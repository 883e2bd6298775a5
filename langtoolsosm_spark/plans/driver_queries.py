"""Driver-contract query registry: every implemented operator from
SURVEY.md §2 exposed as (spark_fn, oracle_sql) pairs.

Conventions (driver compares row-count + schema + order-insensitive
value hash at sf=0.01):

* inputs are the driver's parquet tables (region nation customer supplier
  part orders lineitem events documents embeddings). Geo inputs are
  DERIVED deterministically from integer keys with arithmetic that is
  bit-reproducible in both Spark and DuckDB (same expression tree, IEEE
  doubles), incl. a hot cluster (20% of keys) so skew paths fire.
* every aggregate / computed column is aliased identically on both sides.
* float accumulations are quantized to integers before SUM so the check is
  order-independent and exact (sums of doubles are not associative).
* genuinely non-SQL-expressible ops (adaptive split, simhash pandas
  kernel, image decode) have no oracle entry -> driver records the weaker
  rows-only check.

The fixture derivations below (mode = p_partkey % 8 etc.) mirror the
reference predicate classes (SURVEY.md §2.2, FIXTURES.md F2).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

# ---------------------------------------------------------------------------
# derived geo points (bit-reproducible in DuckDB; hot cluster for skew)
# ---------------------------------------------------------------------------

# Divisors are CAST to DOUBLE because Spark parses bare decimal literals
# as DECIMAL and would otherwise do exact decimal division (scale-rounded
# at ~1e-9) while DuckDB does IEEE double division — invisible to
# cell/predicate queries but fatal to micro-degree quantized kernels.
# With the cast, both engines evaluate the identical double expression.
PT_LAT_SQL = (
    "CASE WHEN o_orderkey % 5 = 0 "
    "THEN 41.36 + ((o_orderkey * 48271) % 10007) / CAST(10007.0 AS DOUBLE) * 0.06 "
    "ELSE 35.0 + ((o_orderkey * 9301 + 49297) % 233280) / CAST(233280.0 AS DOUBLE) * 10.0 END"
)
PT_LON_SQL = (
    "CASE WHEN o_orderkey % 5 = 0 "
    "THEN 2.02 + ((o_orderkey * 16807) % 10009) / CAST(10009.0 AS DOUBLE) * 0.06 "
    "ELSE -5.0 + ((o_orderkey * 6271 + 101) % 190513) / CAST(190513.0 AS DOUBLE) * 15.0 END"
)
FEAT_LAT_SQL = "35.0 + ((c_custkey * 7919 + 13) % 120011) / CAST(120011.0 AS DOUBLE) * 10.0"
FEAT_LON_SQL = "-5.0 + ((c_custkey * 104729 + 7) % 130021) / CAST(130021.0 AS DOUBLE) * 15.0"


def geo_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(point_id, lat, lon) derived from orders keys."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    orders.createOrReplaceTempView("__orders_pts")
    return spark.sql(
        f"SELECT o_orderkey AS point_id, {PT_LAT_SQL} AS lat, {PT_LON_SQL} AS lon "
        "FROM __orders_pts"
    )


def geo_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(id, lat, lon) feature dim derived from customer keys."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    cust.createOrReplaceTempView("__cust_feats")
    return spark.sql(
        f"SELECT c_custkey AS id, {FEAT_LAT_SQL} AS lat, {FEAT_LON_SQL} AS lon "
        "FROM __cust_feats"
    )


# oracle CTE fragments reused across geo queries
PTS_CTE = (
    f"pts AS (SELECT o_orderkey AS point_id, {PT_LAT_SQL} AS lat, "
    f"{PT_LON_SQL} AS lon FROM orders)"
)
FEATS_CTE = (
    f"feats AS (SELECT c_custkey AS id, {FEAT_LAT_SQL} AS lat, "
    f"{FEAT_LON_SQL} AS lon FROM customer)"
)

# fixed polygon set shared by the engine (rings) and the oracle (predicates)
GEO_POLYGONS = [
    ("G1", [(36.0, -3.0), (36.0, 1.0), (39.0, 1.0), (39.0, -3.0)]),
    ("G2", [(39.5, 1.0), (39.5, 4.0), (42.0, 4.0), (42.0, 1.0)]),  # hot cluster inside
    ("G3", [(42.0, -2.0), (42.0, 3.0), (44.5, 3.0), (44.5, -2.0)]),
    ("G4", [(35.5, 4.0), (35.5, 9.0), (40.0, 4.0)]),  # triangle
    ("G5", [(42.0, 4.0), (42.0, 8.0), (43.0, 8.0), (43.0, 6.0), (44.0, 6.0), (44.0, 4.0)]),  # L
]

# Predicates mirror the engine ray-cast's half-open edge rule exactly
# (functions/geo.py: crossing iff (y1 <= y < y2) xor (y2 <= y < y1) with
# x < x_intersection). For an axis-aligned box that reduces to
# lat >= s AND lat < n AND lon >= w AND lon < e; for G4's hypotenuse the
# oracle reuses the kernel's own intersection expression tree
# (x1 + (lat - y1) * (x2 - x1) / dy) so the comparison is bit-identical.
# Derived lat/lon lattices DO produce exact boundary values (e.g. lat ==
# 36.0), so strict-inequality predicates would diverge from the engine.
POLY_PRED_SQL = {
    "G1": "(lat >= 36.0 AND lat < 39.0 AND lon >= -3.0 AND lon < 1.0)",
    "G2": "(lat >= 39.5 AND lat < 42.0 AND lon >= 1.0 AND lon < 4.0)",
    "G3": "(lat >= 42.0 AND lat < 44.5 AND lon >= -2.0 AND lon < 3.0)",
    "G4": "(lat >= 35.5 AND lat < 40.0 AND lon >= 4.0 AND "
    "lon < 9.0 + (lat - 35.5) * (4.0 - 9.0) / (40.0 - 35.5))",
    "G5": "((lat >= 42.0 AND lat < 43.0 AND lon >= 4.0 AND lon < 8.0) OR "
    "(lat >= 43.0 AND lat < 44.0 AND lon >= 4.0 AND lon < 6.0))",
}


def geo_polygons_df(spark: SparkSession) -> DataFrame:
    rows = [
        (pid, [{"lat": float(a), "lon": float(b)} for a, b in ring])
        for pid, ring in GEO_POLYGONS
    ]
    return spark.createDataFrame(
        rows, "polygon_id string, ring array<struct<lat:double,lon:double>>"
    )


def _o_hex8(col_expr: str, start: int) -> str:
    """DuckDB: parse 8 hex chars of ``col_expr`` starting at 1-based
    ``start`` into a BIGINT (position-weighted digit sum — no hex-cast
    dialect dependence)."""
    terms = " + ".join(
        f"(strpos('0123456789abcdef', substr({col_expr}, {start + i}, 1)) - 1) * {16 ** (7 - i)}"
        for i in range(8)
    )
    return f"({terms})"


def _tile_sql(res: int, lat: str = "lat", lon: str = "lon") -> str:
    n = 1 << res
    return (
        f"CAST(least(greatest(floor(({lon} + 180.0) / 360.0 * {n}.0), 0), {n - 1}) AS BIGINT) * {n} "
        f"+ CAST(least(greatest(floor(({lat} + 90.0) / 180.0 * {n}.0), 0), {n - 1}) AS BIGINT)"
    )


# ---------------------------------------------------------------------------
# derived OSM-style feature fixtures from part (mode = p_partkey % 8)
#   name      present iff mode in (0,3,5,6); 'Carrer de '||p_name when 5
#   name:ca   present iff mode in (1,3,6)
#   wikidata  present iff mode in (0,4,6)   -> 'Q' || (p_partkey % 25)
#   wikipedia present iff mode in (2,7)     -> 'ca:Nation_' || (p_partkey % 25)
#   int_name  present iff mode == 7; official_name present iff mode in (6,7)
# ---------------------------------------------------------------------------

def part_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    m = F.col("p_partkey") % 8
    name_val = F.when(m == 5, F.concat(F.lit("Carrer de "), F.col("p_name"))).when(
        m.isin(0, 3, 6), F.col("p_name")
    )
    entries = F.filter(
        F.array(
            F.struct(F.lit("name").alias("key"), name_val.alias("value")),
            F.struct(
                F.lit("name:ca").alias("key"),
                F.when(m.isin(1, 3, 6), F.concat(F.lit("ca "), F.col("p_name"))).alias("value"),
            ),
            F.struct(
                F.lit("wikidata").alias("key"),
                F.when(m.isin(0, 4, 6), F.concat(F.lit("Q"), (F.col("p_partkey") % 25).cast("string"))).alias("value"),
            ),
            F.struct(
                F.lit("wikipedia").alias("key"),
                F.when(
                    m.isin(2, 7),
                    F.concat(F.lit("ca:Nation_"), (F.col("p_partkey") % 25).cast("string")),
                ).alias("value"),
            ),
            F.struct(
                F.lit("int_name").alias("key"),
                F.when(m == 7, F.concat(F.lit("Intl "), F.col("p_name"))).alias("value"),
            ),
            F.struct(
                F.lit("official_name").alias("key"),
                F.when(m.isin(6, 7), F.concat(F.lit("Official "), F.col("p_name"))).alias(
                    "value"
                ),
            ),
            F.struct(F.lit("brand").alias("key"), F.col("p_brand").alias("value")),
        ),
        lambda x: x["value"].isNotNull(),
    )
    osm_type = (
        F.when(F.col("p_partkey") % 3 == 0, "node")
        .when(F.col("p_partkey") % 3 == 1, "way")
        .otherwise("relation")
    )
    return part.select(
        osm_type.alias("osm_type"),
        F.col("p_partkey").alias("id"),
        F.map_from_entries(entries).alias("tags"),
        (F.lit(1) + F.col("p_partkey") % 3).cast("int").alias("version"),
    )


OSM_TYPE_SQL = (
    "CASE WHEN p_partkey % 3 = 0 THEN 'node' "
    "WHEN p_partkey % 3 = 1 THEN 'way' ELSE 'relation' END"
)


def nation_wikidata(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    n = F.col("n_nationkey")
    return nation.select(
        F.concat(F.lit("Q"), n.cast("string")).alias("wikidata"),
        F.when(n == 24, F.lit("Q0"))
        .otherwise(F.concat(F.lit("Q"), n.cast("string")))
        .alias("canonical"),
        F.when(n % 3 != 2, F.concat(F.col("n_name"), F.lit(" (ciutat)"))).alias(
            "wikipedia_title"
        ),
        F.col("n_name").alias("label"),
        F.array().cast("array<string>").alias("aliases"),
        F.map_from_arrays(
            F.array(F.lit("cawiki")),
            F.array(F.concat(F.lit("Nation_"), n.cast("string"))),
        ).alias("sitelinks"),
        F.when(n % 10 == 9, F.array(F.lit("human")))
        .otherwise(F.array(F.lit("city")))
        .alias("p31_labels"),
    )


# DuckDB title-case of n_name (Python str.title() equivalent for
# space-separated alpha words like TPC-H nation names)
TITLE_SQL = (
    "array_to_string(list_transform(string_split(lower(n_name), ' '), "
    "w -> upper(w[1]) || w[2:]), ' ')"
)


# ===========================================================================
# query implementations (Spark side runs REAL engine operators; oracles are
# independent ANSI-SQL reformulations for DuckDB)
# ===========================================================================

def q_tile_assign(spark, sf_dir):
    """Tile-assignment join (SURVEY.md §2.3): computed partition key."""
    from ..operators.tiling import assign_tiles

    return assign_tiles(geo_points(spark, sf_dir), res=8).select("point_id", "tile")


O_TILE_ASSIGN = f"WITH {PTS_CTE} SELECT point_id, {_tile_sql(8)} AS tile FROM pts"


def q_cell_histogram(spark, sf_dir):
    """Per-cell histogram for skew detection (SURVEY.md §2.4)."""
    from ..operators.tiling import assign_tiles, cell_histogram

    return cell_histogram(assign_tiles(geo_points(spark, sf_dir), res=6), "tile")


O_CELL_HISTOGRAM = (
    f"WITH {PTS_CTE} SELECT {_tile_sql(6)} AS tile, count(*) AS n_rows "
    "FROM pts GROUP BY 1"
)


def q_bbox_filter(spark, sf_dir):
    """bbox scan (lib/osm_utils.py:24-33) as pushed-down range predicate."""
    from ..operators.pip_join import bbox_filter

    return bbox_filter(geo_points(spark, sf_dir), 40.0, 0.0, 43.0, 5.0).select(
        "point_id"
    )


O_BBOX_FILTER = (
    f"WITH {PTS_CTE} SELECT point_id FROM pts "
    "WHERE lat >= 40.0 AND lat <= 43.0 AND lon >= 0.0 AND lon <= 5.0"
)


def q_pip_join(spark, sf_dir):
    """PIP join: cell prefilter + exact ray-cast refine (SURVEY.md §4.1)."""
    from ..operators.pip_join import pip_join

    pts = geo_points(spark, sf_dir)
    return pip_join(pts, geo_polygons_df(spark), res=8, id_col="point_id").select(
        "point_id", "polygon_id"
    )


O_PIP_JOIN = (
    f"WITH {PTS_CTE} "
    + "SELECT point_id, polygon_id FROM ("
    + " UNION ALL ".join(
        f"SELECT point_id, '{pid}' AS polygon_id FROM pts WHERE {pred}"
        for pid, pred in POLY_PRED_SQL.items()
    )
    + ") u"
)


def q_pip_unique_owner(spark, sf_dir):
    """Unique tile ownership with lexicographic tie-break (SURVEY.md §7.3)."""
    from ..operators.pip_join import pip_join

    pts = geo_points(spark, sf_dir)
    return pip_join(
        pts, geo_polygons_df(spark), res=8, unique=True, id_col="point_id"
    ).select("point_id", "polygon_id")


O_PIP_UNIQUE = (
    f"WITH {PTS_CTE}, hits AS ("
    + " UNION ALL ".join(
        f"SELECT point_id, '{pid}' AS polygon_id FROM pts WHERE {pred}"
        for pid, pred in POLY_PRED_SQL.items()
    )
    + ") SELECT point_id, min(polygon_id) AS polygon_id FROM hits GROUP BY point_id"
)


def q_lang_coverage(spark, sf_dir):
    """The engine's business question end-to-end: which language rules
    govern how many images — unique PIP ownership, polygon -> lang-rule
    dim (deterministic id -> lang mapping both engines replay), per-lang
    point and polygon counts. Composition of oracle-gated parts, gated
    itself."""
    from ..operators.pip_join import pip_join

    pts = geo_points(spark, sf_dir)
    owned = pip_join(
        pts, geo_polygons_df(spark), res=8, unique=True, id_col="point_id"
    ).select("point_id", "polygon_id")
    langs = ["ca", "es", "fr", "oc"]
    lang = F.element_at(
        F.array(*[F.lit(lg) for lg in langs]),
        (F.substring("polygon_id", 2, 10).cast("int") % 4) + 1,
    )
    return owned.withColumn("lang", lang).groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_points"),
        F.countDistinct("polygon_id").alias("n_polygons"),
    )


O_LANG_COVERAGE = f"""
SELECT CASE CAST(substr(polygon_id, 2) AS INT) % 4
            WHEN 0 THEN 'ca' WHEN 1 THEN 'es' WHEN 2 THEN 'fr'
            ELSE 'oc' END AS lang,
       count(*) AS n_points,
       CAST(count(DISTINCT polygon_id) AS BIGINT) AS n_polygons
FROM ({O_PIP_UNIQUE}) owned
GROUP BY 1
"""


def q_knn_join(spark, sf_dir):
    """Exact kNN via ring expansion (SURVEY.md §2.3 kNN join)."""
    from ..operators.knn import knn_join

    pts = geo_points(spark, sf_dir).filter(F.col("point_id") % 97 == 0)
    feats = geo_features(spark, sf_dir)
    return knn_join(
        pts, feats, k=3, res=7, point_id="point_id", feature_id="id"
    ).select("point_id", "neighbor_id", F.col("rank").cast("int").alias("rank"))


def q_knn_join_cogroup(spark, sf_dir):
    """The kNN SCALE path under the oracle gate: broadcast_threshold=0
    forces the cogroup ring-expansion rounds (the plan used when the
    feature dim is too large to ship to every task), which must produce
    bit-identical results to the broadcast-grid fast path and the SQL
    spec."""
    from ..operators.knn import knn_join

    pts = geo_points(spark, sf_dir).filter(F.col("point_id") % 97 == 0)
    feats = geo_features(spark, sf_dir)
    return knn_join(
        pts, feats, k=3, res=7, point_id="point_id", feature_id="id",
        broadcast_threshold=0,
    ).select("point_id", "neighbor_id", F.col("rank").cast("int").alias("rank"))


def q_pip_join_shuffled(spark, sf_dir):
    """The PIP SCALE path under the oracle gate: broadcast_cover=False +
    broadcast_rings=False shuffle both dimension joins (the plan for
    10^6-polygon dims whose cover/rings exceed any executor broadcast);
    results must equal the broadcast plan and the predicate oracle."""
    from ..operators.pip_join import pip_join

    pts = geo_points(spark, sf_dir)
    return pip_join(
        pts, geo_polygons_df(spark), res=8, id_col="point_id",
        broadcast_cover=False, broadcast_rings=False,
    ).select("point_id", "polygon_id")


O_KNN_JOIN = f"""
WITH {PTS_CTE}, {FEATS_CTE},
q AS (SELECT * FROM pts WHERE point_id % 97 = 0),
d AS (
  SELECT q.point_id, f.id AS neighbor_id,
         (q.lat - f.lat) * (q.lat - f.lat) + (q.lon - f.lon) * (q.lon - f.lon) AS dist,
         row_number() OVER (PARTITION BY q.point_id ORDER BY
           (q.lat - f.lat) * (q.lat - f.lat) + (q.lon - f.lon) * (q.lon - f.lon) ASC,
           f.id ASC) AS rank
  FROM q CROSS JOIN feats f
)
SELECT point_id, neighbor_id, CAST(rank AS INT) AS rank FROM d WHERE rank <= 3
"""


def q_adaptive_split(spark, sf_dir):
    """Adaptive cell-splitting: coarsest admissible (<= max_rows) cell per
    row. The engine's single-pass rollup plan is pure integer arithmetic,
    so it gets an exact DuckDB oracle (hierarchy reproduced as a constant
    res-series cross join over the max_res histogram)."""
    from ..operators.tiling import adaptive_split

    out = adaptive_split(
        geo_points(spark, sf_dir), base_res=4, max_rows=500, max_res=14
    )
    return out.groupBy("acell", "acell_res").agg(F.count(F.lit(1)).alias("n_rows"))


O_ADAPTIVE_SPLIT = f"""
WITH {PTS_CTE},
m AS (SELECT {_tile_sql(14)} AS mcell FROM pts),
hist AS (SELECT mcell, count(*) AS n FROM m GROUP BY 1),
anc AS (
  SELECT h.mcell, h.n, t.res,
         ((h.mcell // 16384) >> (14 - t.res)) * (1 << t.res)
         + ((h.mcell % 16384) >> (14 - t.res)) AS cell
  FROM hist h CROSS JOIN generate_series(4, 14) AS t(res)
),
lv AS (SELECT res, cell, sum(n) AS n FROM anc GROUP BY 1, 2),
ok AS (SELECT res, cell FROM lv WHERE n <= 500 OR res = 14),
pick AS (
  SELECT a.mcell, min(a.res) AS res
  FROM anc a JOIN ok ON ok.res = a.res AND ok.cell = a.cell
  GROUP BY 1
)
SELECT a.cell AS acell, CAST(p.res AS INT) AS acell_res, CAST(sum(a.n) AS BIGINT) AS n_rows
FROM pick p JOIN anc a ON a.mcell = p.mcell AND a.res = p.res
GROUP BY 1, 2
"""


def q_salted_repartition(spark, sf_dir):
    """Salted repartition of hot cells, verified via its INVARIANTS: the
    salt value itself is Spark's murmur3 (a physical layout detail no
    external engine reproduces), but per tile the operator must (a)
    preserve row counts, (b) keep cold tiles on salt 0 only, (c) keep hot
    tiles' salts inside [0, buckets). The oracle recomputes (a) from the
    raw points and asserts (b)/(c) as constants — any violation flips an
    _ok flag and hash-mismatches."""
    from ..operators.tiling import assign_tiles, salted_repartition

    tiled = assign_tiles(geo_points(spark, sf_dir), res=6)
    salted = salted_repartition(tiled, threshold=2000, buckets=8)
    per_tile = salted.groupBy("tile").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("salt").alias("__smin"),
        F.max("salt").alias("__smax"),
    )
    return per_tile.select(
        "tile",
        "n_rows",
        (F.col("n_rows") > 2000).cast("int").alias("hot"),
        F.when(
            F.col("n_rows") > 2000,
            (F.col("__smin") >= 0) & (F.col("__smax") < 8),
        )
        .otherwise((F.col("__smin") == 0) & (F.col("__smax") == 0))
        .cast("int")
        .alias("salts_ok"),
    )


O_SALTED_REPARTITION = f"""
WITH {PTS_CTE},
hist AS (SELECT {_tile_sql(6)} AS tile, count(*) AS n_rows FROM pts GROUP BY 1)
SELECT tile, CAST(n_rows AS BIGINT) AS n_rows,
       CAST(n_rows > 2000 AS INT) AS hot, 1 AS salts_ok
FROM hist
"""


# ---------------------------------------------------------------------------
# reference translation-fill family (real operators over derived fixtures)
# ---------------------------------------------------------------------------

def q_fill_empty_name(spark, sf_dir):
    from ..operators.translate import fill_empty_name

    return fill_empty_name(part_features(spark, sf_dir), "ca").select(
        "osm_type", "id", "key", "value"
    )


O_FILL_EMPTY_NAME = (
    f"SELECT {OSM_TYPE_SQL} AS osm_type, p_partkey AS id, 'name' AS key, "
    "'ca ' || p_name AS value FROM part WHERE p_partkey % 8 = 1"
)


def q_fill_empty_name_lang(spark, sf_dir):
    from ..operators.translate import fill_empty_name_lang

    return fill_empty_name_lang(part_features(spark, sf_dir), "ca").select(
        "osm_type", "id", "key", "value"
    )


O_FILL_EMPTY_NAME_LANG = (
    f"SELECT {OSM_TYPE_SQL} AS osm_type, p_partkey AS id, 'name:ca' AS key, "
    "CASE WHEN p_partkey % 8 = 5 THEN 'Carrer de ' || p_name ELSE p_name END AS value "
    "FROM part WHERE p_partkey % 8 IN (0, 5)"
)


def q_regex_name_lang(spark, sf_dir):
    from ..operators.translate import regex_name_lang

    return regex_name_lang(
        part_features(spark, sf_dir), r"^Carrer de ", "C. ", "oc"
    ).select("osm_type", "id", "key", "value")


O_REGEX_NAME_LANG = (
    f"SELECT {OSM_TYPE_SQL} AS osm_type, p_partkey AS id, 'name:oc' AS key, "
    "'C. ' || p_name AS value FROM part WHERE p_partkey % 8 = 5"
)


def q_translate_with_wikidata(spark, sf_dir):
    from ..operators.translate import translate_with_wikidata

    return translate_with_wikidata(
        part_features(spark, sf_dir), nation_wikidata(spark, sf_dir), "ca"
    ).select("osm_type", "id", "wikidata", "key", "value")


O_TRANSLATE = f"""
WITH dim AS (
  SELECT 'Q' || CAST(n_nationkey AS VARCHAR) AS wikidata,
         CASE WHEN n_nationkey % 3 <> 2 THEN n_name || ' (ciutat)'
              ELSE {TITLE_SQL} END AS best
  FROM nation
)
SELECT {OSM_TYPE_SQL} AS osm_type, p_partkey AS id, dim.wikidata,
       'name:ca' AS key, dim.best AS value
FROM part JOIN dim ON dim.wikidata = 'Q' || CAST(p_partkey % 25 AS VARCHAR)
WHERE p_partkey % 8 = 0
"""


def q_fill_wikidata_from_wikipedia(spark, sf_dir):
    from ..operators.translate import fill_wikidata_from_wikipedia

    return fill_wikidata_from_wikipedia(
        part_features(spark, sf_dir), nation_wikidata(spark, sf_dir)
    ).select("osm_type", "id", "key", "value")


O_FILL_WIKIDATA = f"""
WITH dim AS (
  SELECT 'Nation_' || CAST(n_nationkey AS VARCHAR) AS title,
         CASE WHEN n_nationkey = 24 THEN 'Q0'
              ELSE 'Q' || CAST(n_nationkey AS VARCHAR) END AS canonical
  FROM nation
)
SELECT {OSM_TYPE_SQL} AS osm_type, p_partkey AS id, 'wikidata' AS key,
       dim.canonical AS value
FROM part JOIN dim ON dim.title = 'Nation_' || CAST(p_partkey % 25 AS VARCHAR)
WHERE p_partkey % 8 IN (2, 7)
"""


def q_fill_wikipedia_from_wikidata(spark, sf_dir):
    from ..operators.translate import fill_wikipedia_from_wikidata

    return fill_wikipedia_from_wikidata(
        part_features(spark, sf_dir), nation_wikidata(spark, sf_dir), "ca"
    ).select("osm_type", "id", "key", "value")


O_FILL_WIKIPEDIA = f"""
WITH probe AS (
  SELECT {OSM_TYPE_SQL} AS osm_type, p_partkey AS id,
         p_partkey % 25 AS qnum
  FROM part WHERE p_partkey % 8 IN (0, 4, 6) AND (p_partkey % 25) % 10 <> 9
)
SELECT osm_type, id, 'wikipedia' AS key,
       'ca:Nation_' || CAST(qnum AS VARCHAR) AS value FROM probe
UNION ALL
SELECT osm_type, id, 'wikidata' AS key, 'Q0' AS value FROM probe WHERE qnum = 24
"""


def q_footprint_centroid(spark, sf_dir):
    """Projection/coords mode: shoelace centroid of per-row triangular
    footprints (NumPy batch kernel). Oracle replicates the kernel's exact
    per-edge expression tree and summation order, so the doubles — and the
    micro-degree quantization — are bit-identical."""
    from ..operators.report import footprint_centroid

    pts = geo_points(spark, sf_dir)
    d = F.lit(0.001) + (F.col("point_id") % 7).cast("double") * F.lit(0.0005)
    e = F.lit(0.001) + (F.col("point_id") % 11).cast("double") * F.lit(0.0004)
    fp = pts.select(
        "point_id",
        F.array(
            F.struct(F.col("lat").alias("lat"), F.col("lon").alias("lon")),
            F.struct((F.col("lat") + d).alias("lat"), F.col("lon").alias("lon")),
            F.struct(F.col("lat").alias("lat"), (F.col("lon") + e).alias("lon")),
        ).alias("footprint"),
    )
    out = footprint_centroid(fp)
    return out.select(
        "point_id",
        F.round(F.col("latitude") * 1000000.0).cast("long").alias("clat_micro"),
        F.round(F.col("longitude") * 1000000.0).cast("long").alias("clon_micro"),
    )


# Mirrors the kernel's FIRST-VERTEX-TRANSLATED shoelace (functions/geo.py:
# rings_centroid): translated vertex 0 is exactly (0, 0), so the two edge
# terms touching it contribute exact zeros (IEEE: a + (+-0.0) == a) and
# the surviving expression below is bit-identical to the kernel's
# left-associated accumulation over all three edges.
O_FOOTPRINT_CENTROID = f"""
WITH {PTS_CTE},
fp AS (
  SELECT point_id, lat AS y0, lon AS x0,
         (lat + (0.001 + (point_id % 7) * 0.0005)) - lat AS v1,
         lon - lon AS u1,
         lat - lat AS v2,
         (lon + (0.001 + (point_id % 11) * 0.0004)) - lon AS u2
  FROM pts
),
cr AS (
  SELECT point_id, x0, y0, u1, v1, u2, v2,
         u1 * v2 - u2 * v1 AS c1
  FROM fp
),
ce AS (
  SELECT point_id,
         x0 + ((u1 + u2) * c1) / (3.0 * c1) AS clon,
         y0 + ((v1 + v2) * c1) / (3.0 * c1) AS clat
  FROM cr
)
SELECT point_id,
       CAST(round(clat * 1000000.0) AS BIGINT) AS clat_micro,
       CAST(round(clon * 1000000.0) AS BIGINT) AS clon_micro
FROM ce
"""


def q_p31_type_join(spark, sf_dir):
    """Two-stage P31 type join (lib/wikimedia.py:143-177): entity ->
    P31-id array -> labels dim -> ordered recombine. Entities derive from
    nation (two P31 ids each), labels from region (T0..T4 labeled; T5/T6
    deliberately unlabeled so the drop path fires)."""
    from ..operators.translate import p31_type_join

    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    n = F.col("n_nationkey")
    entities = nation.select(
        F.concat(F.lit("Q"), n.cast("string")).alias("wikidata"),
        F.array(
            F.concat(F.lit("T"), (n % 7).cast("string")),
            F.concat(F.lit("T"), ((n * 3 + 1) % 7).cast("string")),
        ).alias("p31_ids"),
    )
    region = spark.read.parquet(f"{sf_dir}/region.parquet")
    labels = region.select(
        F.concat(F.lit("T"), F.col("r_regionkey").cast("string")).alias("type_id"),
        F.concat(F.lit("type "), F.col("r_name")).alias("label"),
    )
    return p31_type_join(entities, labels)


O_P31_TYPE_JOIN = """
WITH ent AS (
  SELECT 'Q' || CAST(n_nationkey AS VARCHAR) AS wikidata,
         ['T' || CAST(n_nationkey % 7 AS VARCHAR),
          'T' || CAST((n_nationkey * 3 + 1) % 7 AS VARCHAR)] AS p31_ids
  FROM nation
),
lab AS (
  SELECT 'T' || CAST(r_regionkey AS VARCHAR) AS type_id,
         'type ' || r_name AS label
  FROM region
),
ex AS (
  SELECT wikidata, CAST(i AS INT) AS pos, p31_ids[CAST(i AS INT)] AS type_id
  FROM ent JOIN generate_series(1, 2) AS t(i) ON i <= len(p31_ids)
),
j AS (SELECT e.wikidata, e.pos, l.label FROM ex e JOIN lab l USING (type_id))
SELECT wikidata,
       string_agg(label, ',' ORDER BY pos) AS p31_labels,
       (list(label ORDER BY pos))[-1] AS last_label
FROM j GROUP BY wikidata
"""


def q_cdc_merge(spark, sf_dir):
    """CDC merge with skip-if-equal (lib/osm_utils.py:113-115)."""
    from ..operators.translate import cdc_merge

    feats = part_features(spark, sf_dir)
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    m = F.col("p_partkey") % 8
    edits = part.filter(m.isin(0, 1, 3)).select(
        F.when(F.col("p_partkey") % 3 == 0, "node")
        .when(F.col("p_partkey") % 3 == 1, "way")
        .otherwise("relation")
        .alias("osm_type"),
        F.col("p_partkey").alias("id"),
        F.lit("name").alias("key"),
        F.when(m == 0, F.concat(F.lit("NEW "), F.col("p_name")))
        .when(m == 1, F.concat(F.lit("X "), F.col("p_name")))
        .otherwise(F.col("p_name"))
        .alias("value"),
    )
    return cdc_merge(feats, edits).select(
        "osm_type", "id", "changed", F.col("version").cast("int").alias("version")
    )


O_CDC_MERGE = f"""
SELECT {OSM_TYPE_SQL} AS osm_type, p_partkey AS id,
       (p_partkey % 8 IN (0, 1)) AS changed,
       CAST(CASE WHEN p_partkey % 8 IN (0, 1)
                 THEN 2 + p_partkey % 3 ELSE 1 + p_partkey % 3 END AS INT) AS version
FROM part
"""


def q_cdc_merged_tags(spark, sf_dir):
    """Deep CDC check: the MERGED TAG MAP itself (not just changed/version)
    rendered canonically (sorted k=v entries) so the map content is
    hash-comparable against the oracle's per-mode reconstruction."""
    from ..operators.translate import cdc_merge, map_to_sorted_string

    feats = part_features(spark, sf_dir)
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    m = F.col("p_partkey") % 8
    edits = part.filter(m.isin(0, 1, 3)).select(
        F.when(F.col("p_partkey") % 3 == 0, "node")
        .when(F.col("p_partkey") % 3 == 1, "way")
        .otherwise("relation")
        .alias("osm_type"),
        F.col("p_partkey").alias("id"),
        F.lit("name").alias("key"),
        F.when(m == 0, F.concat(F.lit("NEW "), F.col("p_name")))
        .when(m == 1, F.concat(F.lit("X "), F.col("p_name")))
        .otherwise(F.col("p_name"))
        .alias("value"),
    )
    merged = cdc_merge(feats, edits)
    return merged.select(
        "osm_type", "id", map_to_sorted_string("tags").alias("tags_str")
    )


O_CDC_MERGED_TAGS = f"""
WITH f AS (SELECT p_partkey, p_partkey % 8 AS m, p_name, p_brand,
                  CAST(p_partkey % 25 AS VARCHAR) AS q
           FROM part)
SELECT {OSM_TYPE_SQL.replace("p_partkey", "f.p_partkey")} AS osm_type,
       f.p_partkey AS id,
       CASE m
         WHEN 0 THEN 'brand=' || p_brand || '|name=NEW ' || p_name || '|wikidata=Q' || q
         WHEN 1 THEN 'brand=' || p_brand || '|name=X ' || p_name || '|name:ca=ca ' || p_name
         WHEN 2 THEN 'brand=' || p_brand || '|wikipedia=ca:Nation_' || q
         WHEN 3 THEN 'brand=' || p_brand || '|name=' || p_name || '|name:ca=ca ' || p_name
         WHEN 4 THEN 'brand=' || p_brand || '|wikidata=Q' || q
         WHEN 5 THEN 'brand=' || p_brand || '|name=Carrer de ' || p_name
         WHEN 6 THEN 'brand=' || p_brand || '|name=' || p_name || '|name:ca=ca ' || p_name
                  || '|official_name=Official ' || p_name || '|wikidata=Q' || q
         ELSE 'brand=' || p_brand || '|int_name=Intl ' || p_name
                  || '|official_name=Official ' || p_name || '|wikipedia=ca:Nation_' || q
       END AS tags_str
FROM f
"""


def q_conflict_keys(spark, sf_dir):
    """Overwrite-conflict detection (lib/osm_utils.py:109-111)."""
    from ..operators.translate import conflict_keys

    feats = part_features(spark, sf_dir)
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    m = F.col("p_partkey") % 8
    edits = part.filter(m.isin(0, 3)).select(
        F.when(F.col("p_partkey") % 3 == 0, "node")
        .when(F.col("p_partkey") % 3 == 1, "way")
        .otherwise("relation")
        .alias("osm_type"),
        F.col("p_partkey").alias("id"),
        F.lit("name").alias("key"),
        F.when(m == 0, F.concat(F.lit("NEW "), F.col("p_name")))
        .otherwise(F.col("p_name"))
        .alias("value"),
    )
    return conflict_keys(feats, edits).select(
        "osm_type", "id", F.array_join("conflict_keys", ",").alias("conflicts")
    )


O_CONFLICT_KEYS = (
    f"SELECT {OSM_TYPE_SQL} AS osm_type, p_partkey AS id, 'name' AS conflicts "
    "FROM part WHERE p_partkey % 8 = 0"
)


# ---------------------------------------------------------------------------
# classic OLAP family (reference aggregation/join/window inventory §2.3-2.6)
# ---------------------------------------------------------------------------

def q_agg_pushdown(spark, sf_dir):
    """TPC-H Q1-style groupBy agg; float sums quantized to cents so the
    check is order-independent (sums of doubles are not associative)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
            F.sum(
                F.round(F.col("l_extendedprice") * (1.0 - F.col("l_discount")) * 100.0).cast(
                    "long"
                )
            ).alias("revenue_cents"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


O_AGG_PUSHDOWN = """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
       CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100.0) AS BIGINT)) AS BIGINT) AS revenue_cents,
       count(*) AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def q_count_by_type(spark, sf_dir):
    """Reference per-type counts (src/fill_empty_name.py:42-45)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))


O_COUNT_BY_TYPE = "SELECT event_type, count(*) AS n FROM events GROUP BY event_type"


def q_key_frequency(spark, sf_dir):
    """Join-key frequency (src/translate_with_wikidata.py:110)."""
    feats = part_features(spark, sf_dir)
    return (
        feats.filter(F.map_contains_key("tags", F.lit("wikidata")))
        .select(F.element_at("tags", F.lit("wikidata")).alias("wikidata"))
        .groupBy("wikidata")
        .agg(F.count(F.lit(1)).alias("n"))
    )


O_KEY_FREQUENCY = (
    "SELECT 'Q' || CAST(p_partkey % 25 AS VARCHAR) AS wikidata, count(*) AS n "
    "FROM part WHERE p_partkey % 8 IN (0, 4, 6) GROUP BY 1"
)


def q_coverage_stats(spark, sf_dir):
    """Coverage percentages (src/translate_with_wikidata.py:104-119)."""
    feats = part_features(spark, sf_dir)
    dim = nation_wikidata(spark, sf_dir).filter(F.col("wikipedia_title").isNotNull())
    probe = feats.filter(F.map_contains_key("tags", F.lit("wikidata"))).withColumn(
        "wikidata", F.element_at("tags", F.lit("wikidata"))
    )
    joined = probe.join(F.broadcast(dim.select("wikidata")), "wikidata", "left_semi")
    n_obj = probe.count()
    n_tr = joined.count()
    # tie-free integer percent (floor): Python round() is half-to-even while
    # DuckDB round() is half-away-from-zero — a ratio landing exactly on .5
    # would hash-mismatch. Integer floor division is identical in both.
    return spark.createDataFrame(
        [(n_obj, n_tr, (100 * n_tr) // n_obj)],
        "n_objects long, n_translated long, pct long",
    )


O_COVERAGE_STATS = """
WITH probe AS (
  SELECT p_partkey % 25 AS qnum FROM part WHERE p_partkey % 8 IN (0, 4, 6)
),
tr AS (SELECT qnum FROM probe WHERE qnum % 3 <> 2)
SELECT (SELECT count(*) FROM probe) AS n_objects,
       (SELECT count(*) FROM tr) AS n_translated,
       (100 * (SELECT count(*) FROM tr)) // (SELECT count(*) FROM probe) AS pct
"""


def q_group_collect(spark, sf_dir):
    """group-collect audit rows (src/translate_with_wikidata.py:142-144):
    per join key, ordered id list (deterministic sort key, §7.3)."""
    feats = part_features(spark, sf_dir)
    return (
        feats.filter(F.map_contains_key("tags", F.lit("wikidata")))
        .select(
            F.element_at("tags", F.lit("wikidata")).alias("wikidata"),
            F.col("id").cast("string").alias("sid"),
        )
        .groupBy("wikidata")
        .agg(F.array_join(F.array_sort(F.collect_list("sid")), ",").alias("object_ids"))
    )


O_GROUP_COLLECT = """
SELECT 'Q' || CAST(p_partkey % 25 AS VARCHAR) AS wikidata,
       string_agg(CAST(p_partkey AS VARCHAR), ',' ORDER BY CAST(p_partkey AS VARCHAR)) AS object_ids
FROM part WHERE p_partkey % 8 IN (0, 4, 6) GROUP BY 1
"""


def q_topk_window(spark, sf_dir):
    """Top-k per group window (SURVEY.md §2.5)."""
    from pyspark.sql import Window

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        o.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 3)
        .select("o_custkey", "o_orderkey", "rank")
    )


O_TOPK_WINDOW = """
SELECT o_custkey, o_orderkey, CAST(rank AS INT) AS rank FROM (
  SELECT o_custkey, o_orderkey,
         row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank
  FROM orders
) t WHERE rank <= 3
"""


def q_semi_anti_join(spark, sf_dir):
    """Semi/anti join membership probes (SURVEY.md §2.3)."""
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    with_o = c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_nationkey", F.lit(1).alias("has_orders")
    )
    without_o = c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_nationkey", F.lit(0).alias("has_orders")
    )
    return (
        with_o.unionByName(without_o)
        .groupBy("c_nationkey", "has_orders")
        .agg(F.count(F.lit(1)).alias("n"))
    )


O_SEMI_ANTI = """
WITH flags AS (
  SELECT c_nationkey,
         CASE WHEN EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
              THEN 1 ELSE 0 END AS has_orders
  FROM customer
)
SELECT c_nationkey, has_orders, count(*) AS n FROM flags GROUP BY 1, 2
"""


def q_hash_sample(spark, sf_dir):
    """Deterministic 10% sample by md5(key): identical at any parallelism
    and engine (Spark's RNG-based sample() cannot be oracle-checked)."""
    from ..operators.sampling import deterministic_sample

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return deterministic_sample(orders, "o_orderkey", 100).select("o_orderkey")


O_HASH_SAMPLE = f"""
SELECT o_orderkey FROM orders
WHERE {_o_hex8("md5('s0' || CAST(o_orderkey AS VARCHAR))", 1)} * 1000 < 100 * 4294967296
"""


def q_hash_split(spark, sf_dir):
    """Sticky train/val/test assignment (800/100/100 milli) by md5(key):
    rows keep their split across reruns and table growth."""
    from ..operators.sampling import hash_split

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return hash_split(orders, "o_orderkey").select("o_orderkey", "split")


O_HASH_SPLIT = f"""
WITH h AS (
  SELECT o_orderkey,
         {_o_hex8("md5('split0' || CAST(o_orderkey AS VARCHAR))", 1)} AS h32
  FROM orders
)
SELECT o_orderkey,
       CASE WHEN h32 * 1000 < 800 * 4294967296 THEN 'train'
            WHEN h32 * 1000 < 900 * 4294967296 THEN 'val'
            ELSE 'test' END AS split
FROM h
"""


def q_salted_join(spark, sf_dir):
    """Explicit skew-join treatment: 20% of fact rows share one key; the
    salted join scatters them over 8 buckets and replicates only hot dim
    keys. The oracle is the PLAIN join — salting must be semantically
    invisible."""
    from ..operators.joins import salted_join

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    fact = orders.select(
        "o_orderkey",
        F.expr(
            "CASE WHEN o_orderkey % 5 = 0 THEN 0 ELSE o_orderkey % 997 END"
        ).alias("skew_key"),
    )
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    dim = part.filter(F.col("p_partkey") < 997).select(
        F.col("p_partkey").alias("skew_key"), F.col("p_name").alias("label")
    )
    out = salted_join(fact, dim, "skew_key", buckets=8, hot_threshold=1000)
    return out.select("o_orderkey", "skew_key", "label")


O_SALTED_JOIN = """
WITH fact AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 5 = 0 THEN 0 ELSE o_orderkey % 997 END AS skew_key
  FROM orders
),
dim AS (SELECT p_partkey AS skew_key, p_name AS label FROM part WHERE p_partkey < 997)
SELECT f.o_orderkey, f.skew_key, d.label
FROM fact f JOIN dim d USING (skew_key)
"""


def q_rolling_window(spark, sf_dir):
    """Event-time rolling aggregation: per user, the sum of quantized
    values over the trailing hour (RANGE frame — peers at equal epochs
    are included identically in both engines)."""
    from pyspark.sql import Window

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "user_id", F.unix_timestamp("ts").alias("epoch"),
        F.round(F.col("value") * 1000000.0).cast("long").alias("vmic"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("epoch")
        .rangeBetween(-3600, 0)
    )
    return ev.select(
        "event_id", "user_id", "epoch", F.sum("vmic").over(w).alias("roll_sum_micros")
    )


O_ROLLING_WINDOW = """
WITH ev AS (
  SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS epoch,
         CAST(round(value * 1000000.0) AS BIGINT) AS vmic
  FROM events
)
SELECT event_id, user_id, epoch,
       CAST(sum(vmic) OVER (PARTITION BY user_id ORDER BY epoch
            RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS BIGINT) AS roll_sum_micros
FROM ev
"""


def q_rollup_counts(spark, sf_dir):
    """OLAP rollup: (status, priority) hierarchy with subtotal and grand
    total rows (NULL-filled grouping levels, identical in both engines)."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return o.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("o_totalprice") * 100.0).cast("long")).alias("cents"),
    )


O_ROLLUP_COUNTS = """
SELECT o_orderstatus, o_orderpriority, count(*) AS n,
       CAST(sum(CAST(round(o_totalprice * 100.0) AS BIGINT)) AS BIGINT) AS cents
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
"""


def q_pivot_counts(spark, sf_dir):
    """Pivot: per-user event-type counts as columns (fixed value list for
    deterministic schema; absent combinations coalesce to 0)."""
    types = ["click", "view", "purchase", "signup", "error"]
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    p = ev.groupBy("user_id").pivot("event_type", types).count()
    return p.select(
        "user_id",
        *[F.coalesce(F.col(t), F.lit(0)).cast("long").alias(f"n_{t}") for t in types],
    )


O_PIVOT_COUNTS = """
SELECT user_id,
       count(*) FILTER (WHERE event_type = 'click') AS n_click,
       count(*) FILTER (WHERE event_type = 'view') AS n_view,
       count(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
       count(*) FILTER (WHERE event_type = 'signup') AS n_signup,
       count(*) FILTER (WHERE event_type = 'error') AS n_error
FROM events GROUP BY user_id
"""


def q_windowed_event_counts(spark, sf_dir):
    """Time-window aggregation (streaming-shaped, batch-checked; value sums
    quantized to micros for exactness)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        ev.withColumn("bucket", F.floor(F.unix_timestamp("ts") / F.lit(300)))
        .groupBy("bucket", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 1000000.0).cast("long")).alias("sum_micros"),
        )
    )


O_WINDOWED_EVENTS = """
SELECT CAST(floor(epoch(ts) / 300.0) AS BIGINT) AS bucket, event_type,
       count(*) AS n,
       CAST(sum(CAST(round(value * 1000000.0) AS BIGINT)) AS BIGINT) AS sum_micros
FROM events GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# dedup / text-analysis / similarity family (documents, embeddings)
# ---------------------------------------------------------------------------

def q_interval_join(spark, sf_dir):
    """Interval join: purchase-view pairs per user within 4 h, via
    time-bucket equi-join + adjacent-bucket probe (never a per-key range
    explosion). Oracle uses the naive BETWEEN formulation as the spec."""
    from ..operators.asof import interval_join

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "user_id", F.unix_timestamp("ts").alias("epoch"), "event_type"
    )
    left = ev.filter(F.col("event_type") == "purchase")
    right = ev.filter(F.col("event_type") == "view")
    return interval_join(
        left, right, ["user_id"], max_dt=14400, left_ts="epoch", right_ts="epoch",
        left_cols=("event_id",), right_cols=("event_id",),
    )


O_INTERVAL_JOIN = """
WITH ev AS (
  SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS epoch, event_type
  FROM events
)
SELECT l.user_id,
       l.event_id AS left_event_id,
       r.event_id AS right_event_id,
       l.epoch AS left_epoch, r.epoch AS right_epoch,
       l.epoch - r.epoch AS dt
FROM ev l JOIN ev r
  ON l.user_id = r.user_id
 AND l.event_type = 'purchase' AND r.event_type = 'view'
 AND r.epoch BETWEEN l.epoch - 14400 AND l.epoch + 14400
"""


_HLL_REG_SQL = """
WITH hh AS (SELECT md5(CAST(o_custkey AS VARCHAR)) AS h FROM orders),
parts AS (
  SELECT ((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 16
          + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1)) AS register,
         substr(h, 3, 16) AS hexpart
  FROM hh
),
lzd AS (
  SELECT register,
         length(regexp_extract(hexpart, '^(0*)', 1)) AS lz,
         substr(hexpart, length(regexp_extract(hexpart, '^(0*)', 1)) + 1, 1) AS d
  FROM parts
),
rho AS (
  SELECT register,
         least(lz * 4 + (CASE WHEN d = '' THEN 3
                              WHEN strpos('0123456789abcdef', d) - 1 >= 8 THEN 0
                              WHEN strpos('0123456789abcdef', d) - 1 >= 4 THEN 1
                              WHEN strpos('0123456789abcdef', d) - 1 >= 2 THEN 2
                              ELSE 3 END) + 1, 40) AS rho
  FROM lzd
),
regs AS (
  SELECT CAST(register AS INT) AS register, CAST(max(rho) AS INT) AS max_rho
  FROM rho GROUP BY 1
)
"""


def q_hll_registers(spark, sf_dir):
    """HLL sketch registers over orders.o_custkey (md5-derived, mergeable,
    <= 256 rows regardless of input size)."""
    from ..operators.sketches import hll_registers

    return hll_registers(
        spark.read.parquet(f"{sf_dir}/orders.parquet"), "o_custkey"
    )


O_HLL_REGISTERS = _HLL_REG_SQL + "SELECT register, max_rho FROM regs"


def q_hll_estimate(spark, sf_dir):
    """HLL distinct estimate for orders.o_custkey: exact integer register
    sum + one shared float constant -> deterministic milli-estimate."""
    from ..operators.sketches import hll_estimate

    return hll_estimate(spark.read.parquet(f"{sf_dir}/orders.parquet"), "o_custkey")


def _o_hll_estimate() -> str:
    from ..operators.sketches import EST_K, M, RHO_CAP, SCALE

    return _HLL_REG_SQL + f"""
SELECT CAST({M} AS INT) AS m,
       CAST(count(*) AS BIGINT) AS occupied,
       CAST(sum(CAST(1 AS BIGINT) << ({RHO_CAP} - max_rho))
            + ({M} - count(*)) * CAST({SCALE} AS BIGINT) AS BIGINT) AS sum_scaled,
       CAST(round(CAST({EST_K!r} AS DOUBLE) /
            CAST(sum(CAST(1 AS BIGINT) << ({RHO_CAP} - max_rho))
                 + ({M} - count(*)) * CAST({SCALE} AS BIGINT) AS DOUBLE)) AS BIGINT) AS est_milli
FROM regs
"""


O_HLL_ESTIMATE = _o_hll_estimate()


_QB_SQL = """
WITH xs AS (
  SELECT CAST(round(CAST(value AS DOUBLE) * 1000.0) AS BIGINT) AS x
  FROM events WHERE value IS NOT NULL AND value >= 0
),
qb AS (
  SELECT CASE WHEN x <= 15 THEN x
              ELSE length(bin(x)) * 16 + (x >> (length(bin(x)) - 4)) END AS bucket,
         count(*) AS n
  FROM xs GROUP BY 1
)
"""


def q_quantile_buckets(spark, sf_dir):
    """DDSketch-style log-bucket histogram of events.value (integer/bit
    bucketing only — no float log — so the sketch is oracle-exact and
    mergeable)."""
    from ..operators.sketches import quantile_buckets

    return quantile_buckets(spark.read.parquet(f"{sf_dir}/events.parquet"), "value")


O_QUANTILE_BUCKETS = _QB_SQL + "SELECT bucket, n FROM qb"


def q_quantile_estimate(spark, sf_dir):
    """p50/p90/p99 estimates from the bucket sketch (integer rank walk +
    integer bucket midpoints — bit-reproducible)."""
    from ..operators.sketches import quantile_estimate

    return quantile_estimate(spark.read.parquet(f"{sf_dir}/events.parquet"), "value")


O_QUANTILE_ESTIMATE = _QB_SQL + """,
c AS (
  SELECT bucket, n,
         CAST(sum(n) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
         CAST(sum(n) OVER () AS BIGINT) AS total
  FROM qb
),
qs(q_milli) AS (VALUES (500), (900), (990)),
hit AS (
  SELECT q_milli, min(bucket) AS bucket, max(total) AS n_total
  FROM qs JOIN c ON c.cum * 1000 >= qs.q_milli * c.total
  GROUP BY 1
)
SELECT CAST(q_milli AS INT) AS q_milli,
       CAST(CASE WHEN bucket <= 15 THEN bucket
                 ELSE (((bucket % 16) << (bucket // 16 - 4))
                       + (((bucket % 16 + 1) << (bucket // 16 - 4)) - 1)) // 2
            END AS BIGINT) AS est_milli,
       CAST(n_total AS BIGINT) AS n_total
FROM hit
"""


def q_asof_join(spark, sf_dir):
    """As-of join: each purchase picks the user's latest view at or before
    its timestamp (engine: union + window carry-forward, one shuffle; the
    DuckDB oracle uses its native ASOF LEFT JOIN as the independent
    formulation)."""
    from pyspark.sql import Window

    from ..operators.asof import asof_join

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "user_id", F.unix_timestamp("ts").alias("epoch"),
        "event_type", "value",
    )
    left = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "epoch"
    )
    wr = Window.partitionBy("user_id", "epoch").orderBy(F.col("event_id").desc())
    right = (
        ev.filter(F.col("event_type") == "view")
        .withColumn("__rn", F.row_number().over(wr))
        .filter(F.col("__rn") == 1)
        .select("user_id", "epoch", "event_id", "value")
    )
    out = asof_join(
        left, right, ["user_id"], left_ts="epoch", right_ts="epoch",
        value_cols=("event_id", "value"),
    )
    return out.select(
        "event_id", "user_id", "epoch",
        F.col("__matched_ts").alias("matched_epoch"),
        F.col("matched_event_id"),
        F.round(F.col("matched_value") * 1000000.0).cast("long").alias("matched_value_micros"),
    )


O_ASOF_JOIN = """
WITH ev AS (
  SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS epoch,
         event_type, value
  FROM events
),
l AS (SELECT event_id, user_id, epoch FROM ev WHERE event_type = 'purchase'),
r AS (
  SELECT user_id, epoch, event_id, value FROM (
    SELECT user_id, epoch, event_id, value,
           row_number() OVER (PARTITION BY user_id, epoch ORDER BY event_id DESC) AS rn
    FROM ev WHERE event_type = 'view') t
  WHERE rn = 1
)
SELECT l.event_id, l.user_id, l.epoch,
       r.epoch AS matched_epoch,
       r.event_id AS matched_event_id,
       CAST(round(r.value * 1000000.0) AS BIGINT) AS matched_value_micros
FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.epoch >= r.epoch
"""


def q_dedup_exact(spark, sf_dir):
    """Exact dedup groups by content hash (hash-groupBy)."""
    from ..operators.dedup import dedup_exact

    return dedup_exact(spark.read.parquet(f"{sf_dir}/documents.parquet"))


O_DEDUP_EXACT = (
    "SELECT md5(text) AS content_hash, min(doc_id) AS keep_id, count(*) AS n_dups "
    "FROM documents GROUP BY 1"
)


def q_dedup_canonical(spark, sf_dir):
    """Fuzzy-exact dedup: lowercase + punctuation-strip + whitespace
    collapse before hashing (the standard first dedup pass)."""
    from ..operators.dedup import dedup_canonical

    return dedup_canonical(spark.read.parquet(f"{sf_dir}/documents.parquet"))


O_DEDUP_CANONICAL = """
SELECT md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS canon_hash,
       min(doc_id) AS keep_id, count(*) AS n_dups
FROM documents GROUP BY 1
"""


def q_minhash_signatures(spark, sf_dir):
    """MinHash signatures over char-4-gram shingles; hash family h_i(s) =
    md5(i || s) with lexicographic min — identical in both engines."""
    from ..operators.dedup import minhash_signatures

    return minhash_signatures(spark.read.parquet(f"{sf_dir}/documents.parquet"))


O_MINHASH = """
WITH sh AS (
  SELECT doc_id, substr(text, CAST(i AS INT), 4) AS sh
  FROM documents JOIN generate_series(1, 8192) AS t(i)
    ON i <= greatest(length(text) - 3, 1)
)
SELECT doc_id,
       min(md5('0' || sh)) AS sig0, min(md5('1' || sh)) AS sig1,
       min(md5('2' || sh)) AS sig2, min(md5('3' || sh)) AS sig3
FROM sh GROUP BY doc_id
"""


def q_lsh_band_buckets(spark, sf_dir):
    """LSH banding over the minhash signatures: bucket occupancy table
    (band id, bucket hash, docs per bucket)."""
    from ..operators.dedup import lsh_band_buckets

    return lsh_band_buckets(spark.read.parquet(f"{sf_dir}/documents.parquet"))


O_LSH_BANDS = """
WITH sh AS (
  SELECT doc_id, substr(text, CAST(i AS INT), 4) AS sh
  FROM documents JOIN generate_series(1, 8192) AS t(i)
    ON i <= greatest(length(text) - 3, 1)
),
sigs AS (
  SELECT doc_id,
         min(md5('0' || sh)) AS sig0, min(md5('1' || sh)) AS sig1,
         min(md5('2' || sh)) AS sig2, min(md5('3' || sh)) AS sig3
  FROM sh GROUP BY doc_id
),
bands AS (
  SELECT 0 AS band, md5(sig0 || sig1) AS bucket, doc_id FROM sigs
  UNION ALL
  SELECT 1 AS band, md5(sig2 || sig3) AS bucket, doc_id FROM sigs
)
SELECT band, bucket, count(*) AS n_docs, min(doc_id) AS min_doc
FROM bands GROUP BY 1, 2
"""


def q_ngram_jaccard_pairs(spark, sf_dir):
    """Word-set Jaccard near-dup pairs within the same source (integer
    milli-Jaccard for exact cross-engine parity)."""
    from ..operators.dedup import jaccard_pairs

    return jaccard_pairs(spark.read.parquet(f"{sf_dir}/documents.parquet"))


O_NGRAM_JACCARD = """
WITH words AS (
  SELECT DISTINCT doc_id, source, w
  FROM documents, unnest(string_split(text, ' ')) AS t(w)
),
sizes AS (SELECT doc_id, count(*) AS nw FROM words GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
  FROM words a JOIN words b ON a.w = b.w AND a.source = b.source
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, (1000 * inter) // (sa.nw + sb.nw - inter) AS jacc_milli
FROM inter JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
WHERE (1000 * inter) // (sa.nw + sb.nw - inter) >= 600
"""


def q_dedup_clusters(spark, sf_dir):
    """Dedup endgame: near-dup pairs -> connected components -> one
    cluster id (min reachable doc id) per document. Engine: distributed
    min-label propagation; oracle: DuckDB recursive CTE transitive
    closure."""
    from ..operators.dedup import dedup_clusters, jaccard_pairs

    pairs = jaccard_pairs(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    return dedup_clusters(pairs)


O_DEDUP_CLUSTERS = """
WITH RECURSIVE words AS (
  SELECT DISTINCT doc_id, source, w
  FROM documents, unnest(string_split(text, ' ')) AS t(w)
),
sizes AS (SELECT doc_id, count(*) AS nw FROM words GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
  FROM words a JOIN words b ON a.w = b.w AND a.source = b.source
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
),
p AS (
  SELECT doc_a, doc_b
  FROM inter JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
  WHERE (1000 * inter) // (sa.nw + sb.nw - inter) >= 600
),
e AS (SELECT doc_a AS a, doc_b AS b FROM p UNION SELECT doc_b, doc_a FROM p),
r(id, x) AS (
  SELECT DISTINCT a, a FROM e
  UNION
  SELECT r.id, e.b FROM r JOIN e ON e.a = r.x
)
SELECT id AS doc_id, min(x) AS cluster_id FROM r GROUP BY id
"""


def q_dedup_apply(spark, sf_dir):
    """End-to-end dedup: documents minus non-representative cluster
    members (keep min-id per near-dup cluster + all singletons) — the
    deduplicated training corpus."""
    from ..operators.dedup import dedup_apply, dedup_clusters, jaccard_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    clusters = dedup_clusters(jaccard_pairs(docs))
    return dedup_apply(docs, clusters).select("doc_id", "source")


# reuse the clustering oracle's CTE chain; the final projection becomes a
# cl CTE and the output is the anti-joined corpus
O_DEDUP_APPLY = O_DEDUP_CLUSTERS.replace(
    "SELECT id AS doc_id, min(x) AS cluster_id FROM r GROUP BY id",
    """, cl AS (SELECT id AS doc_id, min(x) AS cluster_id FROM r GROUP BY id)
SELECT d.doc_id, d.source FROM documents d
LEFT JOIN cl ON cl.doc_id = d.doc_id
WHERE cl.doc_id IS NULL OR cl.doc_id = cl.cluster_id""",
)


def q_text_quality(spark, sf_dir):
    """Text quality metrics: token count, marker-word counts, avg word
    length (length/replace arithmetic -> exact parity, zero UDFs)."""
    from ..operators.textstats import quality_metrics

    return quality_metrics(spark.read.parquet(f"{sf_dir}/documents.parquet"))


O_TEXT_QUALITY = """
SELECT doc_id,
       length(text) - length(replace(text, ' ', '')) + 1 AS tokens,
       CAST((length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' the ', ''))) / 5 AS BIGINT) AS the_cnt,
       (1000 * (length(text) - (length(text) - length(replace(text, ' ', '')) + 1) + 1)) // (length(text) - length(replace(text, ' ', '')) + 1) AS avg_wlen_milli,
       n_chars = length(text) AS n_chars_ok
FROM documents
"""


def q_regex_tokens(spark, sf_dir):
    """BPE-style pre-tokenizer token counts (alpha/digit runs + single
    punctuation) — regexp_extract_all, codegen, dialect-safe classes."""
    from ..operators.textstats import regex_tokens

    return regex_tokens(spark.read.parquet(f"{sf_dir}/documents.parquet"))


O_REGEX_TOKENS = """
SELECT doc_id,
       length(text) - length(replace(text, ' ', '')) + 1 AS ws_tokens,
       CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS BIGINT) AS bpe_tokens,
       CAST(len(regexp_extract_all(text, '[a-zA-Z]+')) AS BIGINT) AS alpha_tokens,
       CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS digit_tokens,
       CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9 ]')) AS BIGINT) AS punct_tokens
FROM documents
"""


def q_doc_fingerprint(spark, sf_dir):
    """Document fingerprinting: content hash + affix hash."""
    from ..operators.textstats import fingerprints

    return fingerprints(spark.read.parquet(f"{sf_dir}/documents.parquet"))


O_DOC_FINGERPRINT = """
SELECT doc_id, md5(text) AS fp_full,
       md5(substr(text, 1, 16) || substr(text, length(text) - 15, 16)) AS fp_affix
FROM documents
"""


def q_embedding_topk(spark, sf_dir):
    """Similarity search: exact top-k by quantized dot product (scalar
    int quantization -> order-independent integer sums, exact parity).
    Runs the broadcast NumPy kernel (one mapInPandas pass + k-per-query
    merge); the dimension-explode SQL formulation below is the oracle
    spec only — as a physical plan it is a factored cross product."""
    from ..operators.similarity import topk_dot_kernel

    return topk_dot_kernel(spark.read.parquet(f"{sf_dir}/embeddings.parquet"))


O_EMBEDDING_TOPK = """
WITH flat AS (
  SELECT vec_id, CAST(i - 1 AS INT) AS i,
         CAST(round(CAST(embedding[CAST(i AS INT)] AS DOUBLE) * 1000.0) AS BIGINT) AS xq
  FROM embeddings JOIN generate_series(1, 8192) AS t(i) ON i <= len(embedding)
),
q AS (SELECT vec_id AS query_id, i, xq AS qx FROM flat WHERE vec_id % 50 = 0),
dots AS (
  SELECT q.query_id, f.vec_id AS neighbor_id, CAST(sum(q.qx * f.xq) AS BIGINT) AS dot
  FROM q JOIN flat f USING (i)
  WHERE f.vec_id <> q.query_id
  GROUP BY 1, 2
),
ranked AS (
  SELECT query_id, neighbor_id, dot,
         row_number() OVER (PARTITION BY query_id ORDER BY dot DESC, neighbor_id ASC) AS rank
  FROM dots
)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, dot FROM ranked WHERE rank <= 5
"""


def q_simhash_neardup(spark, sf_dir):
    """SimHash (64-bit) per document — JVM-side md5 word hashes + per-doc
    sign-sums + bit packing; exact DuckDB oracle (same md5 + integer
    arithmetic)."""
    from ..operators.dedup import simhash

    return simhash(spark.read.parquet(f"{sf_dir}/documents.parquet"))


O_SIMHASH = f"""
WITH words AS (
  SELECT DISTINCT doc_id, w
  FROM documents, unnest(string_split(text, ' ')) AS t(w)
),
hashed AS (
  SELECT doc_id,
         {_o_hex8('md5(w)', 1)} AS hi,
         {_o_hex8('md5(w)', 9)} AS lo
  FROM words
),
acc AS (
  SELECT doc_id,
         {", ".join(f"sum((({'lo' if j < 32 else 'hi'} >> {j % 32}) & 1) * 2 - 1) AS s{j}" for j in range(64))}
  FROM hashed GROUP BY doc_id
)
SELECT doc_id,
       CAST({" + ".join("CASE WHEN s%d > 0 THEN %s ELSE 0 END" % (j, "(-9223372036854775807 - 1)" if j == 0 else str(1 << (63 - j))) for j in range(64))} AS BIGINT) AS simhash
FROM acc
"""


def q_simhash_pairs(spark, sf_dir):
    """Composition: SimHash fingerprints -> banded Hamming pair join
    (near-dup docs within 6 bit flips of each other, no blocking column).
    The oracle recomputes the simhash CTE and checks pairs quadratically."""
    from ..operators.dedup import hamming_band_pairs, simhash

    sh = simhash(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    return hamming_band_pairs(
        sh, id_col="doc_id", hash_col="simhash", max_hamming=6
    ).select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"), "hamm"
    )


O_SIMHASH_PAIRS = f"""
WITH sims AS ({O_SIMHASH})
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamm
FROM sims a JOIN sims b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 6
"""


def q_embedding_lsh_ann(spark, sf_dir):
    """ANN scale path: multi-table multi-probe sign-LSH candidates (seeded
    Rademacher projections) + exact quantized-dot rescore. Deterministic
    end-to-end (integer arithmetic + md5-seeded matrix) -> exact DuckDB
    oracle."""
    from ..operators.similarity import ann_lsh_topk

    return ann_lsh_topk(spark.read.parquet(f"{sf_dir}/embeddings.parquet"))


def _o_lsh_ann(n_tables: int = 4, n_bits: int = 6, radius: int = 2, dim: int = 64, k: int = 5) -> str:
    """DuckDB mirror of ann_lsh_topk's default config: the same seeded
    ±1 projection matrix (inlined VALUES), bucket assembly, multi-probe
    XOR expansion, candidate dedup, and quantized-dot rescore."""
    from ..operators.similarity import lsh_sign, probe_masks

    signs_vals = ", ".join(
        f"({t}, {b}, {d}, {lsh_sign(t, b, d)})"
        for t in range(n_tables)
        for b in range(n_bits)
        for d in range(dim)
    )
    masks_vals = ", ".join(f"({m})" for m in probe_masks(n_bits, radius))
    return f"""
WITH flat AS (
  SELECT vec_id, CAST(i AS INT) - 1 AS d,
         CAST(round(CAST(embedding[CAST(i AS INT)] AS DOUBLE) * 1000.0) AS BIGINT) AS xq
  FROM embeddings JOIN generate_series(1, 8192) AS t(i) ON i <= len(embedding)
),
signs(tbl, b, d, s) AS (VALUES {signs_vals}),
proj AS (
  SELECT f.vec_id, s.tbl, s.b, sum(f.xq * s.s) AS dot
  FROM flat f JOIN signs s USING (d)
  GROUP BY 1, 2, 3
),
buckets AS (
  SELECT vec_id, tbl, CAST(sum(CASE WHEN dot > 0 THEN (1 << b) ELSE 0 END) AS INT) AS bucket
  FROM proj GROUP BY 1, 2
),
masks(mask) AS (VALUES {masks_vals}),
probes AS (
  SELECT b.vec_id AS query_id, b.tbl, xor(b.bucket, m.mask) AS bucket
  FROM buckets b CROSS JOIN masks m
  WHERE b.vec_id % 50 = 0
),
cand AS (
  SELECT DISTINCT p.query_id, c.vec_id AS neighbor_id
  FROM probes p JOIN buckets c ON c.tbl = p.tbl AND c.bucket = p.bucket
  WHERE c.vec_id <> p.query_id
),
dots AS (
  SELECT c.query_id, c.neighbor_id, CAST(sum(qf.xq * nf.xq) AS BIGINT) AS dot
  FROM cand c
  JOIN flat qf ON qf.vec_id = c.query_id
  JOIN flat nf ON nf.vec_id = c.neighbor_id AND nf.d = qf.d
  GROUP BY 1, 2
),
ranked AS (
  SELECT query_id, neighbor_id, dot,
         row_number() OVER (PARTITION BY query_id ORDER BY dot DESC, neighbor_id ASC) AS rank
  FROM dots
)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, dot FROM ranked WHERE rank <= {k}
"""


O_EMBEDDING_LSH_ANN = _o_lsh_ann()


def q_embedding_neardup_pairs(spark, sf_dir):
    """Embedding-cosine near-dup pairs: LSH-bucket candidates + exact
    quantized-dot rescore (>= 0.32 cosine). The bucket restriction is the
    deterministic spec, mirrored in the oracle."""
    from ..operators.similarity import cosine_neardup_pairs

    return cosine_neardup_pairs(spark.read.parquet(f"{sf_dir}/embeddings.parquet"))


def _o_cosine_neardup(threshold_q: int = 320_000, n_tables: int = 4, n_bits: int = 6, dim: int = 64) -> str:
    from ..operators.similarity import lsh_sign

    signs_vals = ", ".join(
        f"({t}, {b}, {d}, {lsh_sign(t, b, d)})"
        for t in range(n_tables)
        for b in range(n_bits)
        for d in range(dim)
    )
    return f"""
WITH flat AS (
  SELECT vec_id, CAST(i AS INT) - 1 AS d,
         CAST(round(CAST(embedding[CAST(i AS INT)] AS DOUBLE) * 1000.0) AS BIGINT) AS xq
  FROM embeddings JOIN generate_series(1, 8192) AS t(i) ON i <= len(embedding)
),
signs(tbl, b, d, s) AS (VALUES {signs_vals}),
proj AS (
  SELECT f.vec_id, s.tbl, s.b, sum(f.xq * s.s) AS dot
  FROM flat f JOIN signs s USING (d)
  GROUP BY 1, 2, 3
),
buckets AS (
  SELECT vec_id, tbl, CAST(sum(CASE WHEN dot > 0 THEN (1 << b) ELSE 0 END) AS INT) AS bucket
  FROM proj GROUP BY 1, 2
),
cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM buckets a JOIN buckets b ON a.tbl = b.tbl AND a.bucket = b.bucket
  WHERE a.vec_id < b.vec_id
),
dots AS (
  SELECT c.vec_a, c.vec_b, CAST(sum(fa.xq * fb.xq) AS BIGINT) AS dot
  FROM cand c
  JOIN flat fa ON fa.vec_id = c.vec_a
  JOIN flat fb ON fb.vec_id = c.vec_b AND fb.d = fa.d
  GROUP BY 1, 2
)
SELECT vec_a, vec_b, dot FROM dots WHERE dot >= {threshold_q}
"""


O_EMBEDDING_NEARDUP = _o_cosine_neardup()


def q_embedding_ivf_ann(spark, sf_dir):
    """IVF ANN (the second classic ANN scale path next to sign-LSH):
    deterministic coarse centroids (the n smallest-id vectors), exact
    quantized-L2 assignment, nprobe-list probing (default 8: on the
    uniform fixture recall tracks scan fraction — nprobe=4 held only
    0.54 recall@5, nprobe=8 reaches ~0.75 at 50% scan), exact dot
    rescore."""
    from ..operators.similarity import ivf_ann_topk

    return ivf_ann_topk(spark.read.parquet(f"{sf_dir}/embeddings.parquet"))


O_EMBEDDING_IVF_ANN = """
WITH flat AS (
  SELECT vec_id, CAST(i AS INT) - 1 AS d,
         CAST(round(CAST(embedding[CAST(i AS INT)] AS DOUBLE) * 1000.0) AS BIGINT) AS xq
  FROM embeddings JOIN generate_series(1, 8192) AS t(i) ON i <= len(embedding)
),
cents AS (SELECT vec_id AS centroid_id, d, xq AS cq FROM flat WHERE vec_id < 16),
l2 AS (
  SELECT f.vec_id, c.centroid_id, sum((f.xq - c.cq) * (f.xq - c.cq)) AS l2q
  FROM flat f JOIN cents c USING (d)
  GROUP BY 1, 2
),
assigned AS (
  SELECT vec_id, centroid_id FROM (
    SELECT vec_id, centroid_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY l2q ASC, centroid_id ASC) AS rn
    FROM l2) t WHERE rn = 1
),
probes AS (
  SELECT vec_id AS query_id, centroid_id FROM (
    SELECT vec_id, centroid_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY l2q ASC, centroid_id ASC) AS rn
    FROM l2 WHERE vec_id % 50 = 0) t WHERE rn <= 8
),
cand AS (
  SELECT p.query_id, a.vec_id AS neighbor_id
  FROM probes p JOIN assigned a USING (centroid_id)
  WHERE a.vec_id <> p.query_id
),
dots AS (
  SELECT c.query_id, c.neighbor_id, CAST(sum(qf.xq * nf.xq) AS BIGINT) AS dot
  FROM cand c
  JOIN flat qf ON qf.vec_id = c.query_id
  JOIN flat nf ON nf.vec_id = c.neighbor_id AND nf.d = qf.d
  GROUP BY 1, 2
),
ranked AS (
  SELECT query_id, neighbor_id, dot,
         row_number() OVER (PARTITION BY query_id ORDER BY dot DESC, neighbor_id ASC) AS rank
  FROM dots
)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, dot FROM ranked WHERE rank <= 5
"""


def q_embedding_decontaminate(spark, sf_dir):
    """Embedding-space decontamination: per eval vector (vec_id % 10 = 0)
    count train vectors above quantized cosine 0.32, candidates
    restricted to shared sign-LSH buckets (the deterministic spec) with
    exact integer-dot rescore; completes the text/image/embedding
    decontamination trio."""
    from ..operators.similarity import embedding_contamination

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return embedding_contamination(
        emb.filter(F.col("vec_id") % 10 != 0),
        emb.filter(F.col("vec_id") % 10 == 0),
    )


def _o_embedding_decon(threshold_q: int = 320_000, n_tables: int = 4, n_bits: int = 6, dim: int = 64) -> str:
    from ..operators.similarity import lsh_sign

    signs_vals = ", ".join(
        f"({t}, {b}, {d}, {lsh_sign(t, b, d)})"
        for t in range(n_tables)
        for b in range(n_bits)
        for d in range(dim)
    )
    return f"""
WITH flat AS (
  SELECT vec_id, CAST(i AS INT) - 1 AS d,
         CAST(round(CAST(embedding[CAST(i AS INT)] AS DOUBLE) * 1000.0) AS BIGINT) AS xq
  FROM embeddings JOIN generate_series(1, 8192) AS t(i) ON i <= len(embedding)
),
signs(tbl, b, d, s) AS (VALUES {signs_vals}),
proj AS (
  SELECT f.vec_id, s.tbl, s.b, sum(f.xq * s.s) AS dot
  FROM flat f JOIN signs s USING (d)
  GROUP BY 1, 2, 3
),
buckets AS (
  SELECT vec_id, tbl, CAST(sum(CASE WHEN dot > 0 THEN (1 << b) ELSE 0 END) AS INT) AS bucket
  FROM proj GROUP BY 1, 2
),
cand AS (
  SELECT DISTINCT e.vec_id AS ev_id, t.vec_id AS tr_id
  FROM buckets e JOIN buckets t ON e.tbl = t.tbl AND e.bucket = t.bucket
  WHERE e.vec_id % 10 = 0 AND t.vec_id % 10 <> 0
),
dots AS (
  SELECT c.ev_id, c.tr_id, CAST(sum(fe.xq * ft.xq) AS BIGINT) AS dot
  FROM cand c
  JOIN flat fe ON fe.vec_id = c.ev_id
  JOIN flat ft ON ft.vec_id = c.tr_id AND ft.d = fe.d
  GROUP BY 1, 2
),
agg AS (
  SELECT ev_id, count(*) AS n_nd, max(dot) AS max_dot
  FROM dots WHERE dot >= {threshold_q} GROUP BY 1
)
SELECT d.vec_id,
       CAST(COALESCE(a.n_nd, 0) AS BIGINT) AS n_train_neardups,
       a.max_dot,
       CAST(COALESCE(a.n_nd, 0) > 0 AS INT) AS contaminated
FROM (SELECT DISTINCT vec_id FROM embeddings WHERE vec_id % 10 = 0) d
LEFT JOIN agg a ON a.ev_id = d.vec_id
"""


O_EMBEDDING_DECON = _o_embedding_decon()


def q_embedding_ivf_lloyd(spark, sf_dir):
    """IVF ANN over Lloyd-REFINED coarse lists: two integer-arithmetic
    k-means rounds from the deterministic seeds, then nprobe probing +
    exact dot rescore. Centroid means use truncated integer division
    (Spark div == DuckDB // on negatives, verified) so the oracle unrolls
    the identical rounds."""
    from ..operators.similarity import ivf_lloyd_ann_topk

    return ivf_lloyd_ann_topk(spark.read.parquet(f"{sf_dir}/embeddings.parquet"))


def _o_ivf_lloyd(n_centroids: int = 16, nprobe: int = 8, iters: int = 2, k: int = 5) -> str:
    """Unrolled Lloyd rounds: c0 (seed vectors) -> a0 -> c1 -> a1 -> c2,
    final assignment + query probing against the last centroid table."""
    parts = [
        f"""flat AS (
  SELECT vec_id, CAST(i AS INT) - 1 AS d,
         CAST(round(CAST(embedding[CAST(i AS INT)] AS DOUBLE) * 1000.0) AS BIGINT) AS xq
  FROM embeddings JOIN generate_series(1, 8192) AS t(i) ON i <= len(embedding)
),
c0 AS (SELECT vec_id AS centroid_id, d, xq AS cq FROM flat WHERE vec_id < {n_centroids})"""
    ]
    for it in range(iters):
        parts.append(
            f"""l{it} AS (
  SELECT f.vec_id, c.centroid_id, sum((f.xq - c.cq) * (f.xq - c.cq)) AS l2
  FROM flat f JOIN c{it} c USING (d) GROUP BY 1, 2
),
a{it} AS (
  SELECT vec_id, centroid_id FROM (
    SELECT vec_id, centroid_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY l2 ASC, centroid_id ASC) AS rn
    FROM l{it}) t WHERE rn = 1
),
c{it + 1} AS (
  SELECT a.centroid_id, f.d, CAST(sum(f.xq) // count(*) AS BIGINT) AS cq
  FROM a{it} a JOIN flat f USING (vec_id) GROUP BY 1, 2
)"""
        )
    fin = iters
    parts.append(
        f"""lf AS (
  SELECT f.vec_id, c.centroid_id, sum((f.xq - c.cq) * (f.xq - c.cq)) AS l2
  FROM flat f JOIN c{fin} c USING (d) GROUP BY 1, 2
),
af AS (
  SELECT vec_id, centroid_id FROM (
    SELECT vec_id, centroid_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY l2 ASC, centroid_id ASC) AS rn
    FROM lf) t WHERE rn = 1
),
probes AS (
  SELECT vec_id AS query_id, centroid_id FROM (
    SELECT vec_id, centroid_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY l2 ASC, centroid_id ASC) AS rn
    FROM lf WHERE vec_id % 50 = 0) t WHERE rn <= {nprobe}
),
cand AS (
  SELECT p.query_id, a.vec_id AS neighbor_id
  FROM probes p JOIN af a USING (centroid_id)
  WHERE a.vec_id <> p.query_id
),
dots AS (
  SELECT c.query_id, c.neighbor_id, CAST(sum(qf.xq * nf.xq) AS BIGINT) AS dot
  FROM cand c
  JOIN flat qf ON qf.vec_id = c.query_id
  JOIN flat nf ON nf.vec_id = c.neighbor_id AND nf.d = qf.d
  GROUP BY 1, 2
),
ranked AS (
  SELECT query_id, neighbor_id, dot,
         row_number() OVER (PARTITION BY query_id ORDER BY dot DESC, neighbor_id ASC) AS rank
  FROM dots
)"""
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, dot FROM ranked WHERE rank <= {k}"
    )


O_EMBEDDING_IVF_LLOYD = _o_ivf_lloyd()


def q_lsh_candidate_pairs(spark, sf_dir):
    """Distinct near-dup candidate pairs from shared LSH buckets."""
    from ..operators.dedup import lsh_candidate_pairs

    return lsh_candidate_pairs(spark.read.parquet(f"{sf_dir}/documents.parquet"))


O_LSH_PAIRS = """
WITH sh AS (
  SELECT doc_id, substr(text, CAST(i AS INT), 4) AS sh
  FROM documents JOIN generate_series(1, 8192) AS t(i)
    ON i <= greatest(length(text) - 3, 1)
),
sigs AS (
  SELECT doc_id,
         min(md5('0' || sh)) AS sig0, min(md5('1' || sh)) AS sig1,
         min(md5('2' || sh)) AS sig2, min(md5('3' || sh)) AS sig3
  FROM sh GROUP BY doc_id
),
keyed AS (
  SELECT md5(sig0 || sig1) AS bucket, doc_id FROM sigs
  UNION ALL
  SELECT md5(sig2 || sig3) AS bucket, doc_id FROM sigs
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM keyed a JOIN keyed b USING (bucket)
WHERE a.doc_id < b.doc_id
"""


def q_lang_id(spark, sf_dir):
    """Marker-word language ID heuristic (pure length arithmetic)."""
    from ..operators.textstats import lang_id

    return lang_id(spark.read.parquet(f"{sf_dir}/documents.parquet"))


def _o_lang_score(lang: str, markers: list[str]) -> str:
    terms = " + ".join(
        f"CAST((length(' ' || text || ' ') - length(replace(' ' || text || ' ', '{m}', ''))) / {len(m)} AS BIGINT)"
        for m in markers
    )
    return f"({terms}) AS score_{lang}"


O_LANG_ID = """
WITH scored AS (
  SELECT doc_id,
         {s_en}, {s_es}, {s_fr}, {s_de}
  FROM documents
)
SELECT doc_id, score_en, score_es, score_fr, score_de,
       CASE WHEN greatest(score_en, score_es, score_fr, score_de) = 0 THEN 'unk'
            WHEN score_en = greatest(score_en, score_es, score_fr, score_de) THEN 'en'
            WHEN score_es = greatest(score_en, score_es, score_fr, score_de) THEN 'es'
            WHEN score_fr = greatest(score_en, score_es, score_fr, score_de) THEN 'fr'
            ELSE 'de' END AS guess
FROM scored
""".format(
    s_en=_o_lang_score("en", [" the ", " a "]),
    s_es=_o_lang_score("es", [" el ", " la "]),
    s_fr=_o_lang_score("fr", [" le ", " la "]),
    s_de=_o_lang_score("de", [" der ", " die "]),
)


def q_token_shard_pack(spark, sf_dir):
    """Token-budget shard packing over the documents table: md5-bucketed
    parallel greedy packing (window cumsum per bucket), deterministic at
    any parallelism."""
    from ..operators.sampling import token_shard_pack

    return token_shard_pack(spark.read.parquet(f"{sf_dir}/documents.parquet"))


O_TOKEN_SHARD_PACK = f"""
WITH d AS (
  SELECT doc_id,
         CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS n_tokens,
         {_o_hex8("md5('pack0' || CAST(doc_id AS VARCHAR))", 1)} % 16 AS bucket
  FROM documents
),
c AS (
  SELECT doc_id, n_tokens, CAST(bucket AS BIGINT) AS bucket,
         sum(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) AS cum
  FROM d
)
SELECT doc_id, n_tokens, bucket,
       CAST(bucket * 4294967296 + (cum - 1) // 512 AS BIGINT) AS shard_id
FROM c
"""


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination: word-5-gram overlap of each held-out
    eval doc (doc_id % 10 = 0) against the training corpus (the rest) —
    the standard pre-training leak check, as one ngram equi-join."""
    from ..operators.dedup import contamination_check

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return contamination_check(
        docs.filter(F.col("doc_id") % 10 != 0),
        docs.filter(F.col("doc_id") % 10 == 0),
        n=5,
    )


O_DECONTAMINATE = """
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
tr AS (
  SELECT DISTINCT array_to_string(list_slice(ws, CAST(i AS INT), CAST(i AS INT) + 4), ' ') AS ng
  FROM w JOIN generate_series(1, 8192) t(i) ON i <= len(ws) - 4
  WHERE doc_id % 10 <> 0
),
ev AS (
  SELECT DISTINCT doc_id,
         array_to_string(list_slice(ws, CAST(i AS INT), CAST(i AS INT) + 4), ' ') AS ng
  FROM w JOIN generate_series(1, 8192) t(i) ON i <= len(ws) - 4
  WHERE doc_id % 10 = 0
),
agg AS (
  SELECT e.doc_id, count(*) AS n_shared
  FROM ev e JOIN tr USING (ng)
  GROUP BY 1
)
SELECT d.doc_id,
       CAST(COALESCE(a.n_shared, 0) AS BIGINT) AS n_shared_ngrams,
       CAST(COALESCE(a.n_shared, 0) > 0 AS INT) AS contaminated
FROM (SELECT DISTINCT doc_id FROM documents WHERE doc_id % 10 = 0) d
LEFT JOIN agg a USING (doc_id)
"""


def q_stratified_sample(spark, sf_dir):
    """Per-stratum deterministic sampling over documents by source:
    downsample src0 to 25%, keep src1 whole, others 50%."""
    from ..operators.sampling import stratified_sample

    return stratified_sample(
        spark.read.parquet(f"{sf_dir}/documents.parquet"),
        key_col="doc_id",
        strat_col="source",
        rates_milli={"src0": 250, "src1": 1000},
        default_milli=500,
    ).select("doc_id", "source")


O_STRATIFIED_SAMPLE = f"""
SELECT doc_id, source FROM documents
WHERE {_o_hex8("md5('strat0' || CAST(doc_id AS VARCHAR))", 1)} * 1000 <
      (CASE WHEN source = 'src0' THEN 250
            WHEN source = 'src1' THEN 1000
            ELSE 500 END) * 4294967296
"""


def q_corpus_prep(spark, sf_dir):
    """End-to-end training-corpus preparation as ONE dataflow: quality
    filter (>= 8 whitespace tokens) -> canonicalized dedup (keep min-id
    per canonical hash) -> token-budget shard packing. The composition a
    real pipeline runs nightly; every stage is individually oracle-gated
    and the composition is too."""
    from ..operators.dedup import dedup_canonical
    from ..operators.sampling import token_shard_pack
    from ..operators.textstats import token_count

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    good = docs.filter(token_count(F.col("text")) >= 8)
    keepers = dedup_canonical(good).select(F.col("keep_id").alias("doc_id"))
    kept = good.join(keepers, "doc_id", "left_semi")
    return token_shard_pack(kept)


O_CORPUS_PREP = f"""
WITH good AS (
  SELECT * FROM documents
  WHERE length(text) - length(replace(text, ' ', '')) + 1 >= 8
),
keep AS (
  SELECT min(doc_id) AS doc_id
  FROM (SELECT doc_id,
               md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS ch
        FROM good) t
  GROUP BY ch
),
kept AS (SELECT g.* FROM good g JOIN keep USING (doc_id)),
d AS (
  SELECT doc_id,
         CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS n_tokens,
         {_o_hex8("md5('pack0' || CAST(doc_id AS VARCHAR))", 1)} % 16 AS bucket
  FROM kept
),
c AS (
  SELECT doc_id, n_tokens, CAST(bucket AS BIGINT) AS bucket,
         sum(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) AS cum
  FROM d
)
SELECT doc_id, n_tokens, bucket,
       CAST(bucket * 4294967296 + (cum - 1) // 512 AS BIGINT) AS shard_id
FROM c
"""


def q_set_ops(spark, sf_dir):
    """Set operations (SURVEY.md §2.7): union/intersect/except of the
    nation-key sets of customers and suppliers."""
    c = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        F.col("c_nationkey").alias("nk")
    )
    s_ = spark.read.parquet(f"{sf_dir}/supplier.parquet").select(
        F.col("s_nationkey").alias("nk")
    )
    u = c.union(s_).distinct().select(F.lit("union").alias("op"), "nk")
    i = c.intersect(s_).select(F.lit("intersect").alias("op"), "nk")
    e = c.distinct().exceptAll(s_.distinct()).select(F.lit("except").alias("op"), "nk")
    return u.unionByName(i).unionByName(e)


O_SET_OPS = """
SELECT 'union' AS op, nk FROM (
  SELECT DISTINCT c_nationkey AS nk FROM customer
  UNION SELECT DISTINCT s_nationkey FROM supplier) u
UNION ALL
SELECT 'intersect' AS op, nk FROM (
  SELECT c_nationkey AS nk FROM customer
  INTERSECT SELECT s_nationkey FROM supplier) i
UNION ALL
SELECT 'except' AS op, nk FROM (
  SELECT DISTINCT c_nationkey AS nk FROM customer
  EXCEPT SELECT DISTINCT s_nationkey FROM supplier) e
"""


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

REGISTRY: dict[str, tuple] = {
    # geo / spatial (engine core)
    "tile_assign": (q_tile_assign, O_TILE_ASSIGN),
    "cell_histogram": (q_cell_histogram, O_CELL_HISTOGRAM),
    "bbox_filter": (q_bbox_filter, O_BBOX_FILTER),
    "pip_join": (q_pip_join, O_PIP_JOIN),
    "pip_unique_owner": (q_pip_unique_owner, O_PIP_UNIQUE),
    "knn_join": (q_knn_join, O_KNN_JOIN),
    "knn_join_cogroup": (q_knn_join_cogroup, O_KNN_JOIN),
    "pip_join_shuffled": (q_pip_join_shuffled, O_PIP_JOIN),
    "adaptive_split": (q_adaptive_split, O_ADAPTIVE_SPLIT),
    "salted_repartition": (q_salted_repartition, O_SALTED_REPARTITION),
    # reference translation-fill family
    "fill_empty_name": (q_fill_empty_name, O_FILL_EMPTY_NAME),
    "fill_empty_name_lang": (q_fill_empty_name_lang, O_FILL_EMPTY_NAME_LANG),
    "regex_name_lang": (q_regex_name_lang, O_REGEX_NAME_LANG),
    "translate_with_wikidata": (q_translate_with_wikidata, O_TRANSLATE),
    "fill_wikidata_from_wikipedia": (q_fill_wikidata_from_wikipedia, O_FILL_WIKIDATA),
    "fill_wikipedia_from_wikidata": (q_fill_wikipedia_from_wikidata, O_FILL_WIKIPEDIA),
    "footprint_centroid": (q_footprint_centroid, O_FOOTPRINT_CENTROID),
    "p31_type_join": (q_p31_type_join, O_P31_TYPE_JOIN),
    "cdc_merge": (q_cdc_merge, O_CDC_MERGE),
    "cdc_merged_tags": (q_cdc_merged_tags, O_CDC_MERGED_TAGS),
    "conflict_keys": (q_conflict_keys, O_CONFLICT_KEYS),
    # classic OLAP
    "agg_pushdown": (q_agg_pushdown, O_AGG_PUSHDOWN),
    "count_by_type": (q_count_by_type, O_COUNT_BY_TYPE),
    "key_frequency": (q_key_frequency, O_KEY_FREQUENCY),
    "coverage_stats": (q_coverage_stats, O_COVERAGE_STATS),
    "group_collect": (q_group_collect, O_GROUP_COLLECT),
    "topk_window": (q_topk_window, O_TOPK_WINDOW),
    "semi_anti_join": (q_semi_anti_join, O_SEMI_ANTI),
    "windowed_event_counts": (q_windowed_event_counts, O_WINDOWED_EVENTS),
    "hash_sample": (q_hash_sample, O_HASH_SAMPLE),
    "hash_split": (q_hash_split, O_HASH_SPLIT),
    "salted_join": (q_salted_join, O_SALTED_JOIN),
    "rolling_window": (q_rolling_window, O_ROLLING_WINDOW),
    "rollup_counts": (q_rollup_counts, O_ROLLUP_COUNTS),
    "pivot_counts": (q_pivot_counts, O_PIVOT_COUNTS),
    "asof_join": (q_asof_join, O_ASOF_JOIN),
    "interval_join": (q_interval_join, O_INTERVAL_JOIN),
    "hll_registers": (q_hll_registers, O_HLL_REGISTERS),
    "hll_estimate": (q_hll_estimate, O_HLL_ESTIMATE),
    "quantile_buckets": (q_quantile_buckets, O_QUANTILE_BUCKETS),
    "quantile_estimate": (q_quantile_estimate, O_QUANTILE_ESTIMATE),
    # dedup / text / similarity
    "dedup_exact": (q_dedup_exact, O_DEDUP_EXACT),
    "minhash_signatures": (q_minhash_signatures, O_MINHASH),
    "lsh_band_buckets": (q_lsh_band_buckets, O_LSH_BANDS),
    "ngram_jaccard_pairs": (q_ngram_jaccard_pairs, O_NGRAM_JACCARD),
    "dedup_clusters": (q_dedup_clusters, O_DEDUP_CLUSTERS),
    "dedup_apply": (q_dedup_apply, O_DEDUP_APPLY),
    "text_quality": (q_text_quality, O_TEXT_QUALITY),
    "doc_fingerprint": (q_doc_fingerprint, O_DOC_FINGERPRINT),
    "regex_tokens": (q_regex_tokens, O_REGEX_TOKENS),
    "embedding_topk": (q_embedding_topk, O_EMBEDDING_TOPK),
    "simhash_neardup": (q_simhash_neardup, O_SIMHASH),
    "simhash_pairs": (q_simhash_pairs, O_SIMHASH_PAIRS),
    "dedup_canonical": (q_dedup_canonical, O_DEDUP_CANONICAL),
    "embedding_lsh_ann": (q_embedding_lsh_ann, O_EMBEDDING_LSH_ANN),
    "lsh_candidate_pairs": (q_lsh_candidate_pairs, O_LSH_PAIRS),
    "embedding_neardup_pairs": (q_embedding_neardup_pairs, O_EMBEDDING_NEARDUP),
    "embedding_ivf_ann": (q_embedding_ivf_ann, O_EMBEDDING_IVF_ANN),
    "embedding_ivf_lloyd": (q_embedding_ivf_lloyd, O_EMBEDDING_IVF_LLOYD),
    "lang_id": (q_lang_id, O_LANG_ID),
    "set_ops": (q_set_ops, O_SET_OPS),
    "token_shard_pack": (q_token_shard_pack, O_TOKEN_SHARD_PACK),
    "corpus_prep": (q_corpus_prep, O_CORPUS_PREP),
    "stratified_sample": (q_stratified_sample, O_STRATIFIED_SAMPLE),
    "decontaminate": (q_decontaminate, O_DECONTAMINATE),
    "embedding_decontaminate": (q_embedding_decontaminate, O_EMBEDDING_DECON),
}


# ---------------------------------------------------------------------------
# wide report projection / flatten-distinct / sessionization / image table
# ---------------------------------------------------------------------------

def q_wide_report(spark, sf_dir):
    """Wide report projection (src/write_osm_objects_report.py:50-148):
    hot columns + multilang key-prefix projection + all_tags key list."""
    from ..operators.report import build_report

    return build_report(part_features(spark, sf_dir), "ca", extra_tags=["wikidata"])


# the oracle rebuilds the SAME tag map as the part_features fixture (the
# per-key CASEs replicate fixture generation, unavoidable), then derives
# every report column GENERICALLY from the sorted entry list — the
# cdc_merged_tags sorted-entries comparator pattern, so a future map-typed
# column can't silently diverge behind a hand-enumerated mode CASE
O_WIDE_REPORT = f"""
WITH f AS (SELECT p_partkey, p_partkey % 8 AS m, p_name, p_brand FROM part),
ent AS (
  SELECT p_partkey, list_filter([
    struct_pack(k := 'name', v := CASE WHEN m = 5 THEN 'Carrer de ' || p_name
                                       WHEN m IN (0, 3, 6) THEN p_name END),
    struct_pack(k := 'name:ca', v := CASE WHEN m IN (1, 3, 6) THEN 'ca ' || p_name END),
    struct_pack(k := 'wikidata', v := CASE WHEN m IN (0, 4, 6)
                                           THEN 'Q' || CAST(p_partkey % 25 AS VARCHAR) END),
    struct_pack(k := 'wikipedia', v := CASE WHEN m IN (2, 7)
                                            THEN 'ca:Nation_' || CAST(p_partkey % 25 AS VARCHAR) END),
    struct_pack(k := 'int_name', v := CASE WHEN m = 7 THEN 'Intl ' || p_name END),
    struct_pack(k := 'official_name', v := CASE WHEN m IN (6, 7) THEN 'Official ' || p_name END),
    struct_pack(k := 'brand', v := p_brand)
  ], x -> x.v IS NOT NULL) AS tags
  FROM f
)
SELECT {OSM_TYPE_SQL.replace("p_partkey", "e.p_partkey")} AS osm_type,
       e.p_partkey AS id,
       list_filter(tags, x -> x.k = 'name')[1].v AS name,
       list_filter(tags, x -> x.k = 'name:ca')[1].v AS "name:ca",
       list_filter(tags, x -> x.k = 'wikidata')[1].v AS wikidata,
       COALESCE(array_to_string(list_sort(list_transform(list_filter(tags,
           x -> x.k LIKE 'name:%' OR x.k IN ('int_name', 'loc_name',
                'short_name', 'official_name')), x -> x.v)), ', '), '') AS multilang_names,
       COALESCE(array_to_string(list_sort(list_transform(tags, x -> x.k)), ', '), '') AS all_tags
FROM ent e
"""


def q_report_mediawiki_roundtrip(spark, sf_dir):
    """mediawiki report sink -> source round-trip: the wide report is
    written as a MediaWiki table and re-parsed; output must equal the
    stringified report (nulls become empty cells, the reference's CSV/
    mediawiki writer behavior)."""
    import shutil
    import tempfile

    from ..operators.report import (
        build_report,
        read_report_mediawiki,
        write_report_mediawiki,
    )

    rep = build_report(part_features(spark, sf_dir), "ca", extra_tags=["wikidata"])
    out = tempfile.mkdtemp(prefix="mwreport_")
    try:
        write_report_mediawiki(rep, out, table_name="wide report")
        df, _meta = read_report_mediawiki(spark, out)
    finally:
        # the parsed frame is built from local rows, not the files
        shutil.rmtree(out, ignore_errors=True)
    return df


O_REPORT_MEDIAWIKI = f"""
SELECT osm_type, CAST(id AS VARCHAR) AS id,
       COALESCE(name, '') AS name,
       COALESCE("name:ca", '') AS "name:ca",
       COALESCE(wikidata, '') AS wikidata,
       multilang_names, all_tags
FROM ({O_WIDE_REPORT}) w
"""


def q_flatten_distinct(spark, sf_dir):
    """flatten + distinct over nested arrays (lib/wikimedia.py:156)."""
    dim = nation_wikidata(spark, sf_dir)
    return dim.agg(
        F.array_join(
            F.array_sort(F.array_distinct(F.flatten(F.collect_list("p31_labels")))),
            ",",
        ).alias("p31_all")
    )


O_FLATTEN_DISTINCT = """
SELECT string_agg(DISTINCT lbl, ',' ORDER BY lbl) AS p31_all FROM (
  SELECT unnest(CASE WHEN n_nationkey % 10 = 9 THEN ['human']
                     ELSE ['city'] END) AS lbl
  FROM nation) t
"""


def q_sessionize(spark, sf_dir):
    """Sessionization: gap > 30 min starts a new session (window lag +
    cumulative sum — integer epoch arithmetic for exact parity)."""
    from pyspark.sql import Window

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", F.unix_timestamp("ts").alias("epoch")
    )
    w = Window.partitionBy("user_id").orderBy("epoch")
    flagged = ev.withColumn(
        "new_sess",
        F.when(
            (F.col("epoch") - F.lag("epoch").over(w)) > 1800, F.lit(1)
        ).otherwise(F.lit(0)),
    ).withColumn("session_idx", F.sum("new_sess").over(w).cast("long"))
    return flagged.groupBy("user_id", "session_idx").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("epoch").alias("start_epoch"),
        F.max("epoch").alias("end_epoch"),
    )


O_SESSIONIZE = """
WITH ev AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS epoch FROM events),
flagged AS (
  SELECT user_id, epoch,
         CASE WHEN epoch - lag(epoch) OVER (PARTITION BY user_id ORDER BY epoch) > 1800
              THEN 1 ELSE 0 END AS new_sess
  FROM ev
),
sess AS (
  SELECT user_id, epoch,
         CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY epoch
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
  FROM flagged
)
SELECT user_id, session_idx, count(*) AS n_events,
       min(epoch) AS start_epoch, max(epoch) AS end_epoch
FROM sess GROUP BY 1, 2
"""


# derive the oracle's parquet path from the same root the Spark side uses
# (honors $LTOSM_DATA_ROOT / repo relocation — a hard-coded /root/repo path
# would silently compare different data if the cache dir moves)
from ..datagen import DATA_ROOT as _DATA_ROOT

SYNTH_SF001_IMAGES = os.path.join(_DATA_ROOT, "synth_sf0.01", "images.parquet")


def _synth_images(spark, sf_dir):
    """The image-table fixture for the oracle-gated queries is PINNED to
    the sf0.01 tier on both sides: the oracle SQL is a static string (it
    cannot adapt to the runtime sf_dir), so following the tier on the
    Spark side would silently compare different datasets at any tier
    other than 0.01. Image-op scaling is measured by bench.py/-scaling,
    not the correctness gate."""
    from ..datagen import ensure_dataset

    synth = ensure_dataset("sf0.01")
    return spark.read.parquet(f"{synth}/images.parquet")


def q_images_tile_assign(spark, sf_dir):
    """Tile assignment over the real image+caption table (per-tile counts;
    oracle reads the same parquet via read_parquet)."""
    from ..operators.tiling import assign_tiles, cell_histogram

    return cell_histogram(assign_tiles(_synth_images(spark, sf_dir), res=8), "tile")


O_IMAGES_TILE = (
    f"SELECT {_tile_sql(8)} AS tile, count(*) AS n_rows "
    f"FROM read_parquet('{SYNTH_SF001_IMAGES}') GROUP BY 1"
)


def q_images_phash_pairs(spark, sf_dir):
    """Visual near-dup candidates: pHash Hamming distance <= 12 within the
    same coarse tile, via 13-band LSH bucketing (pigeonhole-exact: any
    pair within 12 bit flips matches at least one of 13 disjoint bands) —
    the round-1 within-tile self-join was quadratic in the 20%-hot cell.
    The oracle keeps the quadratic formulation as the semantic spec."""
    from ..operators.dedup import hamming_band_pairs
    from ..operators.tiling import assign_tiles

    img = assign_tiles(
        _synth_images(spark, sf_dir).select("image_id", "phash", "lat", "lon"),
        res=5,
    ).select("image_id", "phash", "tile")
    return hamming_band_pairs(
        img, id_col="image_id", hash_col="phash", max_hamming=12, block_cols=("tile",)
    ).select(
        F.col("id_a").alias("img_a"), F.col("id_b").alias("img_b"), "hamm"
    )


O_IMAGES_PHASH = f"""
WITH img AS (
  SELECT image_id, phash, {_tile_sql(5)} AS tile
  FROM read_parquet('{SYNTH_SF001_IMAGES}')
)
SELECT a.image_id AS img_a, b.image_id AS img_b,
       CAST(bit_count(xor(a.phash, b.phash)) AS INT) AS hamm
FROM img a JOIN img b USING (tile)
WHERE a.image_id < b.image_id AND bit_count(xor(a.phash, b.phash)) <= 12
"""

def q_images_decontaminate(spark, sf_dir):
    """Visual decontamination over the image table: per eval image (first
    md5(image_id) hex digit = '0', ~1/16 of rows), count train images
    within 10 pHash bits — banded cross-corpus join + exact rescore; the
    oracle keeps the quadratic formulation as the spec."""
    from ..operators.dedup import hamming_cross_contamination

    img = _synth_images(spark, sf_dir).select("image_id", "phash")
    is_eval = F.substring(F.md5("image_id"), 1, 1) == "0"
    return hamming_cross_contamination(
        img.filter(~is_eval), img.filter(is_eval), "image_id", "phash",
        max_hamming=10,
    )


O_IMAGES_DECON = f"""
WITH img AS (
  SELECT image_id, phash, substr(md5(image_id), 1, 1) = '0' AS is_eval
  FROM read_parquet('{SYNTH_SF001_IMAGES}')
),
agg AS (
  SELECT e.image_id, count(*) AS n_nd,
         CAST(min(bit_count(xor(e.phash, t.phash))) AS INT) AS min_hamming
  FROM img e JOIN img t ON NOT t.is_eval
   AND bit_count(xor(e.phash, t.phash)) <= 10
  WHERE e.is_eval
  GROUP BY 1
)
SELECT d.image_id,
       CAST(COALESCE(a.n_nd, 0) AS BIGINT) AS n_train_neardups,
       a.min_hamming,
       CAST(COALESCE(a.n_nd, 0) > 0 AS INT) AS contaminated
FROM (SELECT image_id FROM img WHERE is_eval) d
LEFT JOIN agg a USING (image_id)
"""


SYNTH_SF001_MEDIA = os.path.join(_DATA_ROOT, "synth_sf0.01", "media.parquet")


def _synth_media(spark, sf_dir):
    """Multimodal fixture, PINNED to the sf0.01 tier on both sides (same
    static-oracle-string reasoning as ``_synth_images``)."""
    from ..datagen import ensure_media

    return spark.read.parquet(ensure_media("sf0.01"))


def q_video_frame_stats(spark, sf_dir):
    """Video frame sampling over opaque binary media (every 2nd frame of
    each rawseq clip -> per-frame geometry + exact integer pixel mean).
    The oracle independently re-decodes the container — header uint32s
    and every frame byte — from hex() in SQL, so the mapInPandas decode
    kernel (operators/multimodal.py:sample_video_frames) is checked
    against a second implementation, not against itself. The per-frame
    pHash stays pytest-covered (DCT is not reasonably expressible in
    SQL)."""
    from ..operators.multimodal import sample_video_frames

    vids = _synth_media(spark, sf_dir).filter(F.col("kind") == "video")
    return sample_video_frames(vids, every_n=2).select(
        "media_id", "frame_idx", "n_frames", "w", "h", "mean_milli"
    )


# shared byte-decode CTE chain for the video oracles: hex() every byte,
# parse the rawseq header uint32s — an independent re-implementation of
# the container decode, in SQL
_VIDEO_BYTES_CTE = f"""v AS (
  SELECT media_id, hex(bytes) AS hx, octet_length(bytes) AS len
  FROM read_parquet('{SYNTH_SF001_MEDIA}') WHERE kind = 'video'
),
series AS (SELECT i FROM generate_series(0, 20000) s(i)),
b AS (
  SELECT media_id, i,
         (strpos('0123456789ABCDEF', substr(hx, 2*i + 1, 1)) - 1) * 16
       + (strpos('0123456789ABCDEF', substr(hx, 2*i + 2, 1)) - 1) AS bv
  FROM v JOIN series ON i < len
),
hdr AS (
  SELECT media_id,
         CAST(SUM(CASE WHEN i = 4 THEN bv WHEN i = 5 THEN 256*bv
                       WHEN i = 6 THEN 65536*bv WHEN i = 7 THEN 16777216*bv
                       ELSE 0 END) AS BIGINT) AS nf,
         CAST(SUM(CASE WHEN i = 8 THEN bv WHEN i = 9 THEN 256*bv
                       WHEN i = 10 THEN 65536*bv WHEN i = 11 THEN 16777216*bv
                       ELSE 0 END) AS BIGINT) AS vh,
         CAST(SUM(CASE WHEN i = 12 THEN bv WHEN i = 13 THEN 256*bv
                       WHEN i = 14 THEN 65536*bv WHEN i = 15 THEN 16777216*bv
                       ELSE 0 END) AS BIGINT) AS vw
  FROM b WHERE i BETWEEN 4 AND 15 GROUP BY 1
)"""


O_VIDEO_FRAMES = f"""
WITH {_VIDEO_BYTES_CTE},
fr AS (
  SELECT hd.media_id, f.i AS frame_idx, hd.nf, hd.vw, hd.vh,
         CAST(SUM(bb.bv) AS BIGINT) AS s
  FROM hdr hd
  JOIN series f ON f.i < hd.nf AND f.i % 2 = 0
  JOIN b bb ON bb.media_id = hd.media_id
           AND bb.i >= 16 + f.i * hd.vh * hd.vw * 3
           AND bb.i <  16 + (f.i + 1) * hd.vh * hd.vw * 3
  GROUP BY 1, 2, 3, 4, 5
)
SELECT media_id, CAST(frame_idx AS INT) AS frame_idx,
       CAST(nf AS INT) AS n_frames, CAST(vw AS INT) AS w,
       CAST(vh AS INT) AS h,
       CAST(s * 1000 // (vh * vw * 3) AS BIGINT) AS mean_milli
FROM fr
"""


def q_pcm16_features(spark, sf_dir):
    """Windowed audio features over 16-bit PCM binary columns (exact
    integer energy / peak / zero crossings per 1024-sample window). The
    oracle re-decodes every little-endian int16 from hex() in SQL —
    including the signbit convention (0 counts as non-negative) and the
    window-straddling-pair exclusion — independent of the NumPy kernel
    (operators/multimodal.py:pcm16_features)."""
    from ..operators.multimodal import pcm16_features

    aud = _synth_media(spark, sf_dir).filter(F.col("kind") == "audio")
    return pcm16_features(aud, window=1024)


# shared int16 sample-decode CTE chain for the audio oracles
_PCM_SAMPLES_CTE = f"""a AS (
  SELECT media_id, hex(bytes) AS hx, octet_length(bytes) // 2 AS n
  FROM read_parquet('{SYNTH_SF001_MEDIA}') WHERE kind = 'audio'
),
series AS (SELECT i FROM generate_series(0, 10000) s(i)),
samp AS (
  SELECT media_id, i,
         u - CASE WHEN u >= 32768 THEN 65536 ELSE 0 END AS s
  FROM (
    SELECT media_id, i,
           (strpos('0123456789ABCDEF', substr(hx, 4*i + 1, 1)) - 1) * 16
         + (strpos('0123456789ABCDEF', substr(hx, 4*i + 2, 1)) - 1)
         + 256 * ((strpos('0123456789ABCDEF', substr(hx, 4*i + 3, 1)) - 1) * 16
                + (strpos('0123456789ABCDEF', substr(hx, 4*i + 4, 1)) - 1)) AS u
    FROM a JOIN series ON i < n) t
)"""


O_PCM16_FEATURES = f"""
WITH {_PCM_SAMPLES_CTE},
x AS (
  SELECT media_id, i, s, i // 1024 AS win_idx,
         lead(s) OVER (PARTITION BY media_id ORDER BY i) AS nxt
  FROM samp
)
SELECT media_id, CAST(win_idx AS INT) AS win_idx,
       CAST(count(*) AS INT) AS n_samples,
       CAST(SUM(s * s) AS BIGINT) AS energy,
       CAST(MAX(ABS(s)) AS BIGINT) AS peak,
       CAST(SUM(CASE WHEN nxt IS NOT NULL AND i % 1024 != 1023
                      AND (s < 0) != (nxt < 0) THEN 1 ELSE 0 END) AS BIGINT)
           AS zero_crossings
FROM x GROUP BY 1, 2
"""


def q_video_scene_cuts(spark, sf_dir):
    """Shot-boundary detection over binary video: exact integer mean
    absolute pixel diff between consecutive frames + threshold flag
    (operators/multimodal.py:video_scene_cuts). The oracle re-decodes
    every frame byte from hex() and self-joins consecutive frames on the
    in-frame byte position — a second implementation of both the decode
    and the diff."""
    from ..operators.multimodal import video_scene_cuts

    vids = _synth_media(spark, sf_dir).filter(F.col("kind") == "video")
    return video_scene_cuts(vids)


O_VIDEO_SCENE_CUTS = f"""
WITH {_VIDEO_BYTES_CTE},
pix AS (
  SELECT bb.media_id, (bb.i - 16) // (hd.vh * hd.vw * 3) AS f,
         (bb.i - 16) % (hd.vh * hd.vw * 3) AS p, bb.bv,
         hd.vh, hd.vw
  FROM b bb JOIN hdr hd ON bb.media_id = hd.media_id
  WHERE bb.i >= 16
),
sad AS (
  SELECT cur.media_id, cur.f AS frame_idx,
         CAST(SUM(ABS(cur.bv - prv.bv)) AS BIGINT) AS sad,
         cur.vh, cur.vw
  FROM pix cur JOIN pix prv
    ON cur.media_id = prv.media_id AND prv.f = cur.f - 1 AND prv.p = cur.p
  GROUP BY 1, 2, 4, 5
)
SELECT media_id, CAST(frame_idx AS INT) AS frame_idx,
       CAST(sad * 1000 // (vh * vw * 3) AS BIGINT) AS mad_milli,
       CAST(sad * 1000 // (vh * vw * 3) >= 25000 AS INT) AS is_cut
FROM sad
"""


def q_audio_vad_segments(spark, sf_dir):
    """Energy-gated voice-activity segmentation: active windows merge
    into gaps-and-islands segments (operators/multimodal.py:
    audio_vad_segments — pcm16_features kernel + pure JVM window
    arithmetic). The oracle re-decodes the samples and replays the
    islands in SQL."""
    from ..operators.multimodal import audio_vad_segments

    aud = _synth_media(spark, sf_dir).filter(F.col("kind") == "audio")
    return audio_vad_segments(aud)


O_AUDIO_VAD = f"""
WITH {_PCM_SAMPLES_CTE},
wins AS (
  SELECT media_id, i // 1024 AS win_idx, CAST(SUM(s * s) AS BIGINT) AS energy
  FROM samp GROUP BY 1, 2
),
act AS (
  SELECT media_id, win_idx, energy,
         win_idx - row_number() OVER (PARTITION BY media_id ORDER BY win_idx) AS grp
  FROM wins WHERE energy >= 1000000000
),
seg AS (
  SELECT media_id, min(win_idx) AS start_win, max(win_idx) AS end_win,
         CAST(count(*) AS INT) AS n_windows,
         CAST(SUM(energy) AS BIGINT) AS energy_sum
  FROM act GROUP BY media_id, grp
)
SELECT media_id,
       CAST(row_number() OVER (PARTITION BY media_id ORDER BY start_win) - 1
            AS INT) AS seg_idx,
       CAST(start_win AS INT) AS start_win, CAST(end_win AS INT) AS end_win,
       n_windows, energy_sum
FROM seg
"""


def q_doc_repetition(spark, sf_dir):
    """Within-document 3-gram repetition ratio (the Gopher boilerplate
    filter) over the documents table — pure codegen expressions, oracle
    replays split/ngram/distinct with DuckDB list functions."""
    from ..operators.textstats import ngram_repetition

    return ngram_repetition(spark.read.parquet(f"{sf_dir}/documents.parquet"))


O_DOC_REPETITION = """
WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
g AS (
  SELECT doc_id,
         CAST(CASE WHEN len(toks) >= 3 THEN len(toks) - 2 ELSE 0 END
              AS BIGINT) AS n_ngrams,
         CAST(CASE WHEN len(toks) >= 3
              THEN len(list_distinct(list_transform(
                   generate_series(1, len(toks) - 2),
                   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])))
              ELSE 0 END AS BIGINT) AS n_distinct
  FROM d
)
SELECT doc_id, n_ngrams, n_distinct,
       CAST(CASE WHEN n_ngrams > 0
            THEN (1000 * (n_ngrams - n_distinct)) // n_ngrams
            ELSE 0 END AS BIGINT) AS rep_milli
FROM g
"""


def q_grouped_quantiles(spark, sf_dir):
    """Per-group p50/p90 of events.value by event_type from per-group
    integer bucket sketches (operators/sketches.py:
    grouped_quantile_estimate) — the group-keyed OLAP shape the global
    sketch pair can't answer."""
    from ..operators.sketches import grouped_quantile_estimate

    return grouped_quantile_estimate(
        spark.read.parquet(f"{sf_dir}/events.parquet"), "value", "event_type"
    )


O_GROUPED_QUANTILES = """
WITH xs AS (
  SELECT event_type,
         CAST(round(CAST(value AS DOUBLE) * 1000.0) AS BIGINT) AS x
  FROM events WHERE value IS NOT NULL AND value >= 0
),
qb AS (
  SELECT event_type,
         CASE WHEN x <= 15 THEN x
              ELSE length(bin(x)) * 16 + (x >> (length(bin(x)) - 4)) END AS bucket,
         count(*) AS n
  FROM xs GROUP BY 1, 2
),
c AS (
  SELECT event_type, bucket, n,
         CAST(sum(n) OVER (PARTITION BY event_type ORDER BY bucket
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
         CAST(sum(n) OVER (PARTITION BY event_type) AS BIGINT) AS total
  FROM qb
),
qs(q_milli) AS (VALUES (500), (900)),
hit AS (
  SELECT event_type, q_milli, min(bucket) AS bucket, max(total) AS n_total
  FROM qs JOIN c ON c.cum * 1000 >= qs.q_milli * c.total
  GROUP BY 1, 2
)
SELECT event_type, CAST(q_milli AS INT) AS q_milli,
       CAST(CASE WHEN bucket <= 15 THEN bucket
                 ELSE (((bucket % 16) << (bucket // 16 - 4))
                       + (((bucket % 16 + 1) << (bucket // 16 - 4)) - 1)) // 2
            END AS BIGINT) AS est_milli,
       CAST(n_total AS BIGINT) AS n_total
FROM hit
"""


def q_tile_pyramid(spark, sf_dir):
    """Tile pyramid rollup: per-tile counts at EVERY resolution 0..8 in
    one scan + one shuffle (operators/tiling.py:tile_pyramid — coarser
    keys derived by bit shifts from the finest level). The oracle
    recomputes each level independently from lat/lon, so the shift
    composition itself is what's being checked."""
    from ..operators.tiling import tile_pyramid

    return tile_pyramid(geo_points(spark, sf_dir), max_res=8)


O_TILE_PYRAMID = (
    f"WITH {PTS_CTE} "
    + " UNION ALL ".join(
        f"SELECT {r} AS res, {_tile_sql(r)} AS tile, count(*) AS n_rows "
        f"FROM pts GROUP BY 2"
        for r in range(9)
    )
)


def q_doc_chunks(spark, sf_dir):
    """Overlapping token-window chunking of the documents table
    (64-token chunks, 16 overlap — operators/textstats.py:
    chunk_documents); the oracle replays it with DuckDB list slicing +
    scalar generate_series unnest."""
    from ..operators.textstats import chunk_documents

    return chunk_documents(spark.read.parquet(f"{sf_dir}/documents.parquet"))


O_DOC_CHUNKS = """
WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
n AS (
  SELECT doc_id, toks,
         1 + CAST((greatest(len(toks) - 64, 0) + 47) // 48 AS INT) AS nch
  FROM d
),
e AS (
  SELECT doc_id, toks,
         unnest(generate_series(0, nch - 1)) AS chunk_idx
  FROM n
)
SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
       CAST(len(toks[chunk_idx * 48 + 1 : chunk_idx * 48 + 64]) AS BIGINT)
           AS n_tokens,
       array_to_string(toks[chunk_idx * 48 + 1 : chunk_idx * 48 + 64], ' ')
           AS chunk_text
FROM e
"""


def q_pii_redact(spark, sf_dir):
    """PII scrub over the documents table. The fixture text is a clean
    word salad, so both sides append the SAME deterministic PII suffix
    (email, dotted IPv4, long digit run derived from doc_id) before
    redacting — the operator then has real matches to count and replace
    (operators/textstats.py:redact_pii)."""
    from ..operators.textstats import redact_pii

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    salted = docs.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com from 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".7 ref "),
            (F.col("doc_id") * 1000003 + 7654321).cast("string"),
        ),
    )
    return redact_pii(salted)


def _o_pii_redact() -> str:
    from ..operators.textstats import PII_DIGITS, PII_EMAIL, PII_IPV4

    return f"""
WITH s AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@example.com from 10.0.' || CAST(doc_id % 256 AS VARCHAR)
              || '.7 ref ' || CAST(doc_id * 1000003 + 7654321 AS VARCHAR) AS text
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{PII_EMAIL}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(text, '{PII_IPV4}')) AS BIGINT) AS n_ips,
       CAST(len(regexp_extract_all(text, '{PII_DIGITS}')) AS BIGINT) AS n_digit_runs,
       regexp_replace(regexp_replace(regexp_replace(text,
           '{PII_EMAIL}', '<EMAIL>', 'g'),
           '{PII_IPV4}', '<IP>', 'g'),
           '{PII_DIGITS}', '<NUM>', 'g') AS clean_text
FROM s
"""


O_PII_REDACT = _o_pii_redact()


def q_embedding_lsh_ann_kernel(spark, sf_dir):
    """Driver gate for the broadcast-matrix LSH bucket kernel
    (operators/similarity.py:sign_lsh_buckets_kernel): the same ANN query
    as ``embedding_lsh_ann``. ``ann_lsh_topk`` derives its bucket codes
    with that kernel's matmul in-task, so the scale path for high
    embedding dims (no n_tables x n_bits x dim sign literals in the plan)
    is itself oracle-checked, not just parity-tested against the
    expression form."""
    from ..operators.similarity import ann_lsh_topk

    return ann_lsh_topk(spark.read.parquet(f"{sf_dir}/embeddings.parquet"))


def q_embedding_topk_sharded(spark, sf_dir):
    """Driver gate for the sharded query side of ``topk_dot_kernel``: a
    tiny ``shard_rows`` forces the id-sharded multi-broadcast path (the
    100-TB shape for large query sets), which must be byte-identical to
    the single-broadcast answer."""
    from ..operators.similarity import topk_dot_kernel

    return topk_dot_kernel(
        spark.read.parquet(f"{sf_dir}/embeddings.parquet"), shard_rows=16
    )


# ---------------------------------------------------------------------------
# snapshot maintenance + streaming dedup gates (round 5: VERDICT r4 #3/#7)
# ---------------------------------------------------------------------------

def _snapshot_fixture_write(spark, sf_dir, out):
    """Shared fixture for the maintenance gates: the res-6 tiled point set
    written as one small file per hash-partition group with tile stats."""
    from ..operators.tiling import assign_tiles
    from ..sources.snapshots import SnapshotTable, write_partitioned

    tiled = assign_tiles(geo_points(spark, sf_dir), res=6).select("point_id", "tile")
    t = SnapshotTable(os.path.join(out, "t"))
    write_partitioned(tiled, t, "tile", stats_col="tile")
    return t


# the maintenance ops must not change table CONTENT: the oracle recomputes
# the per-tile fingerprint (count + exact integer id sum) from raw orders
# and pins every invariant flag at 1 — any content drift, file-count
# overflow, resume-set shrink, or pruning miss flips a flag or a value and
# hash-mismatches. (CAST sum back from DuckDB HUGEINT.)
def _o_snapshot_maint(flags: str) -> str:
    return (
        f"WITH {PTS_CTE} SELECT {_tile_sql(6)} AS tile, count(*) AS n_rows, "
        f"CAST(sum(point_id) AS BIGINT) AS sum_pid, {flags} FROM pts GROUP BY 1"
    )


O_SNAPSHOT_COMPACT = _o_snapshot_maint("1 AS files_ok, 1 AS prune_ok")
O_SNAPSHOT_EXPIRE = _o_snapshot_maint(
    "1 AS expire_ok, 1 AS resume_ok, 1 AS disk_ok, 1 AS prune_ok"
)

# a real res-6 tile sub-range of the fixture (ix=32 column holds the hot
# cluster): exercises manifest-stats pruning on range-clustered files
_MAINT_RANGE = (2048, 2112)


def q_snapshot_compact(spark, sf_dir):
    """Registry gate for ``compact_table`` (sources/snapshots.py): write
    the tiled point set as many small per-partition files, compact into 4
    range-clustered files as one replace commit, and emit the per-tile
    content fingerprint plus invariant flags: live-file count <= target
    (files_ok) and manifest-stats ``read_range`` returning exactly the
    directly-filtered rows post-compaction (prune_ok). Reference
    analogue: changeset lifecycle, /root/reference/src/fill_empty_name.py:66-89."""
    import shutil
    import tempfile

    from ..sources.snapshots import compact_table

    out = tempfile.mkdtemp(prefix="snapcompact_")
    try:
        t = _snapshot_fixture_write(spark, sf_dir, out)
        compact_table(t, spark, target_files=4, stats_col="tile")
        n_live = len(t.live_files())
        post = t.read(spark)
        lo, hi = _MAINT_RANGE
        n_pruned = t.read_range(spark, "tile", lo, hi).count()
        n_direct = post.filter((F.col("tile") >= lo) & (F.col("tile") <= hi)).count()
        result = (
            post.groupBy("tile")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("point_id").alias("sum_pid"),
            )
            .select(
                "tile",
                "n_rows",
                "sum_pid",
                F.lit(int(n_live <= 4)).alias("files_ok"),
                F.lit(int(n_pruned == n_direct)).alias("prune_ok"),
            )
            .localCheckpoint(eager=True)  # outlive the rmtree below
        )
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return result


def q_snapshot_expire(spark, sf_dir):
    """Registry gate for ``expire_snapshots``: after compaction (replace
    commit keeps the old small files alive for time travel), expiration
    must actually reclaim them while preserving content, the
    committed-partition resume set, and range-scan correctness. Flags:
    expire_ok (manifests removed AND orphaned data files deleted),
    resume_ok (committed_partitions identical across expiration), disk_ok
    (data dir holds exactly the live files afterwards), prune_ok
    (read_range still exact post-expiration)."""
    import shutil
    import tempfile

    from ..sources.snapshots import compact_table

    out = tempfile.mkdtemp(prefix="snapexpire_")
    try:
        t = _snapshot_fixture_write(spark, sf_dir, out)
        compact_table(t, spark, target_files=3, stats_col="tile")
        parts_before = t.committed_partitions()
        stats = t.expire_snapshots(keep_last=1)
        expire_ok = stats["removed_snapshots"] >= 1 and stats["deleted_files"] >= 1
        resume_ok = t.committed_partitions() == parts_before
        live = {os.path.basename(p) for p in t.live_files()}
        on_disk = {f for f in os.listdir(t.data_dir) if f.endswith(".parquet")}
        disk_ok = live == on_disk
        post = t.read(spark)
        lo, hi = _MAINT_RANGE
        n_pruned = t.read_range(spark, "tile", lo, hi).count()
        n_direct = post.filter((F.col("tile") >= lo) & (F.col("tile") <= hi)).count()
        result = (
            post.groupBy("tile")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("point_id").alias("sum_pid"),
            )
            .select(
                "tile",
                "n_rows",
                "sum_pid",
                F.lit(int(expire_ok)).alias("expire_ok"),
                F.lit(int(resume_ok)).alias("resume_ok"),
                F.lit(int(disk_ok)).alias("disk_ok"),
                F.lit(int(n_pruned == n_direct)).alias("prune_ok"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return result


def _stream_pdf(df, *keys):
    """``df`` collected to pandas and sorted by ``keys`` for file staging,
    with ``ts`` (when present) cast to microseconds: Spark cannot read
    pandas' default TIMESTAMP(NANOS) parquet."""
    pdf = df.toPandas().sort_values(list(keys), kind="mergesort")
    if "ts" in pdf:
        pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    return pdf


def _thirds(pdf, interleaved=False):
    """Three staging frames: contiguous slices (time-ordered micro-batches,
    the ordered-ingestion contract), or rank-interleaved — batch i holds
    ranks i, i+3, i+6, ... — for maximal cross-batch disorder."""
    if interleaved:
        return [pdf.iloc[i::3] for i in range(3)]
    n = len(pdf)
    return [pdf.iloc[i * n // 3 : (i + 1) * n // 3] for i in range(3)]


def _run_staged_stream(frames, run):
    """Stage ``frames`` as a stream source directory, return
    ``run(src, ckpt)`` pinned with an eager ``localCheckpoint`` (it must
    outlive the staging), and remove the staging tempdir — source,
    checkpoint and any sink under it — in ``finally``.

    A list of pandas frames is written as ``b{i}.parquet`` with mtime
    ``1000 * (i + 1)``: the file source orders files by mtime, so list
    order is trigger order. A Spark DataFrame is written as 3 files by
    ``repartition(3)``, in no fixed order (for order-free kernels)."""
    import shutil
    import tempfile

    out = tempfile.mkdtemp(prefix="stream_")
    try:
        src = os.path.join(out, "src")
        if isinstance(frames, DataFrame):
            frames.repartition(3).write.parquet(src)
        else:
            os.makedirs(src)
            for i, pdf in enumerate(frames):
                p = os.path.join(src, f"b{i}.parquet")
                pdf.to_parquet(p, index=False)
                os.utime(p, (1000 * (i + 1), 1000 * (i + 1)))
        return run(src, os.path.join(out, "ckpt")).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(out, ignore_errors=True)


def q_stream_dedup(spark, sf_dir):
    """Batch-parity gate for ``stream_dedup_exact``
    (streaming/microbatch.py): the events table staged as 3 parquet files
    feeds 3 micro-batches (maxFilesPerTrigger=1) through
    ``dropDuplicatesWithinWatermark`` with a horizon wider than the
    fixture's whole time span, projected to the dedup keys. Every key must
    be emitted exactly ONCE across all batches — cross-batch re-emission
    (broken state) or loss changes the row multiset vs the batch DISTINCT
    and hash-mismatches. Keys-only projection keeps the check
    deterministic (which duplicate survives within a batch is partition-
    order dependent; the key set is not)."""
    from ..streaming.microbatch import run_dedup_exact_once

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return _run_staged_stream(
        ev,
        lambda src, ckpt: run_dedup_exact_once(
            spark,
            src,
            ckpt,
            f"{ckpt}_sink",  # inside the same staging tempdir
            key_cols=["user_id", "event_type"],
            watermark="36500 days",
        ).select("user_id", "event_type"),
    )


O_STREAM_DEDUP = "SELECT DISTINCT user_id, event_type FROM events"


# ---------------------------------------------------------------------------
# spatial family round 5: radius join / geo clustering / trajectories /
# rasterization (operators/spatial.py)
# ---------------------------------------------------------------------------

def q_distance_join(spark, sf_dir):
    """All (point, feature) pairs within 0.25 deg (squared-euclid-degree
    metric, SQL parity with the kNN family): cell-disk fan-out + exact
    refine. The reference's Overpass ``around`` proximity filter
    (/root/reference/lib/osm_utils.py), internalized as an equi-join."""
    from ..operators.spatial import distance_join

    pts = geo_points(spark, sf_dir).filter(F.col("point_id") % 29 == 0)
    feats = geo_features(spark, sf_dir)
    return distance_join(pts, feats, radius=0.25, point_id="point_id", feature_id="id")


# threshold written as 0.25 * 0.25 so DuckDB performs the same IEEE
# multiply the engine does (F.lit(radius * radius))
O_DISTANCE_JOIN = f"""
WITH {PTS_CTE}, {FEATS_CTE}
SELECT q.point_id, f.id AS neighbor_id,
       (q.lat - f.lat) * (q.lat - f.lat) + (q.lon - f.lon) * (q.lon - f.lon) AS dist
FROM pts q CROSS JOIN feats f
WHERE q.point_id % 29 = 0
  AND (q.lat - f.lat) * (q.lat - f.lat) + (q.lon - f.lon) * (q.lon - f.lon)
      <= 0.25 * 0.25
"""


def q_geo_clusters(spark, sf_dir):
    """Single-linkage spatial clustering at radius 0.05 deg: the
    r-neighbor graph's connected components (distance_join feeding the
    dedup family's pointer-jumping min-label propagation), singletons
    labeled with their own id. The hot-cluster band (point_id % 5 = 0)
    is EXCLUDED from this gate's fixture: the oracle's recursive
    reachability CTE carries component^2 rows, and at sf0.1 the hot box
    becomes one ~2300-node component (~5M-pair recursion — DuckDB never
    finishes); background-only points keep components bounded at every
    tier while exercising identical engine semantics (the engine itself
    handles the hot component fine — pointer jumping is linear-ish)."""
    from ..operators.spatial import geo_clusters

    pts = geo_points(spark, sf_dir).filter(
        (F.col("point_id") % 13 == 0) & (F.col("point_id") % 5 != 0)
    )
    return geo_clusters(pts, radius=0.05)


O_GEO_CLUSTERS = f"""
WITH RECURSIVE {PTS_CTE},
q AS (SELECT point_id, lat, lon FROM pts
      WHERE point_id % 13 = 0 AND point_id % 5 != 0),
p AS (
  SELECT a.point_id AS pa, b.point_id AS pb
  FROM q a JOIN q b
    ON (a.lat - b.lat) * (a.lat - b.lat) + (a.lon - b.lon) * (a.lon - b.lon)
       <= 0.05 * 0.05
  WHERE a.point_id < b.point_id
),
e AS (SELECT pa AS a, pb AS b FROM p UNION SELECT pb, pa FROM p),
r(id, x) AS (
  SELECT DISTINCT a, a FROM e
  UNION
  SELECT r.id, e.b FROM r JOIN e ON e.a = r.x
),
lbl AS (SELECT id, min(x) AS cluster_id FROM r GROUP BY id)
SELECT q.point_id, coalesce(lbl.cluster_id, q.point_id) AS cluster_id
FROM q LEFT JOIN lbl ON lbl.id = q.point_id
"""


# deterministic per-event coordinates for the trajectory fixture (the
# events table has no geometry; same lattice-hash idiom as PT_LAT_SQL)
TRAJ_LAT_SQL = "35.0 + ((event_id * 7919 + 13) % 120011) / CAST(120011.0 AS DOUBLE) * 10.0"
TRAJ_LON_SQL = "-5.0 + ((event_id * 104729 + 7) % 130021) / CAST(130021.0 AS DOUBLE) * 15.0"


def q_trajectory_stats(spark, sf_dir):
    """Per-user ordered path statistics over the events stream (one
    window pass + one aggregation; segment lengths quantized to bigint
    BEFORE the sum so the aggregate is merge-order independent)."""
    from ..operators.spatial import trajectory_stats

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev.createOrReplaceTempView("__traj_events")
    t = spark.sql(
        f"SELECT user_id, ts, event_id, {TRAJ_LAT_SQL} AS lat, "
        f"{TRAJ_LON_SQL} AS lon FROM __traj_events"
    )
    return trajectory_stats(
        t, "user_id", "ts", order_tiebreak="event_id"
    ).withColumnRenamed("entity", "user_id")


O_TRAJECTORY_STATS = f"""
WITH t AS (
  SELECT user_id, ts, event_id,
         {TRAJ_LAT_SQL} AS lat, {TRAJ_LON_SQL} AS lon
  FROM events
),
s AS (
  SELECT user_id,
         lat - lag(lat) OVER w AS dlat,
         lon - lag(lon) OVER w AS dlon
  FROM t WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
),
sq AS (
  SELECT user_id,
         CAST(floor((dlat * dlat + dlon * dlon) * 1000000000.0) AS BIGINT) AS segq
  FROM s
)
SELECT user_id, count(*) AS n_points, count(segq) AS n_segments,
       CAST(coalesce(sum(segq), 0) AS BIGINT) AS total_dist_q,
       coalesce(max(segq), 0) AS max_seg_q
FROM sq GROUP BY user_id
"""


def q_rasterize_polygons(spark, sf_dir):
    """Vector -> raster burn of the shared polygon fixture at res 10
    (center-inside rule) on the SCALE path: collect_threshold=0 forces
    the per-polygon applyInPandas plan (the driver-side fast path is
    pytest-parity-checked against it)."""
    from ..operators.spatial import rasterize_polygons

    return rasterize_polygons(
        geo_polygons_df(spark), res=10, collect_threshold=0
    ).select("polygon_id", "tile")


# oracle: every res-10 tile whose CENTER satisfies the polygon's ray-cast
# predicate (center expression mirrors functions/cells.py cell_center's
# op order exactly: (i + 0.5) / n * span - offset)
_RASTER_CELLS_CTE = """
g AS (SELECT x.ix, y.iy
      FROM generate_series(0, 1023) x(ix), generate_series(0, 1023) y(iy)),
c AS (SELECT ix * 1024 + iy AS tile,
             (CAST(iy AS DOUBLE) + 0.5) / 1024.0 * 180.0 - 90.0 AS lat,
             (CAST(ix AS DOUBLE) + 0.5) / 1024.0 * 360.0 - 180.0 AS lon
      FROM g)
"""

O_RASTERIZE = "WITH " + _RASTER_CELLS_CTE + " " + " UNION ALL ".join(
    f"SELECT '{pid}' AS polygon_id, tile FROM c WHERE {pred}"
    for pid, pred in POLY_PRED_SQL.items()
)


def q_trajectory_resample(spark, sf_dir):
    """Fixed-interval (1 h) trajectory resampling with linear
    interpolation over the per-user event paths — lattice indices are
    pure long division, interpolation is one canonical double shape."""
    from ..operators.spatial import trajectory_resample

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev.createOrReplaceTempView("__resample_events")
    # ts is TIMESTAMP_NTZ: count micros from a fixed NAIVE anchor so no
    # session-timezone semantics enter on either engine
    t = spark.sql(
        f"SELECT user_id, "
        f"timestampdiff(MICROSECOND, TIMESTAMP_NTZ'2024-01-01 00:00:00', ts) AS ts_us, "
        f"event_id, {TRAJ_LAT_SQL} AS lat, {TRAJ_LON_SQL} AS lon "
        f"FROM __resample_events"
    )
    return trajectory_resample(
        t, "user_id", "ts_us", step=3_600_000_000, order_tiebreak="event_id"
    ).withColumnRenamed("entity", "user_id")


O_TRAJECTORY_RESAMPLE = f"""
WITH t AS (
  SELECT user_id,
         datediff('microsecond', TIMESTAMP '2024-01-01 00:00:00', ts) AS ts_us,
         event_id, {TRAJ_LAT_SQL} AS lat, {TRAJ_LON_SQL} AS lon
  FROM events
),
seg AS (
  SELECT user_id, ts_us AS t0, lead(ts_us) OVER w AS t1,
         lat AS lat0, lead(lat) OVER w AS lat1,
         lon AS lon0, lead(lon) OVER w AS lon1
  FROM t WINDOW w AS (PARTITION BY user_id ORDER BY ts_us ASC, event_id ASC)
),
s AS (
  SELECT user_id, t0, t1, lat0, lat1, lon0, lon1, k
  FROM seg, unnest(CASE WHEN (t1 - 1) // 3600000000 >= (t0 + 3599999999) // 3600000000
                        THEN range((t0 + 3599999999) // 3600000000,
                                   (t1 - 1) // 3600000000 + 1)
                        ELSE [] END) AS u(k)
  WHERE t1 IS NOT NULL
)
SELECT user_id, k * 3600000000 AS sample_ts,
       lat0 + (lat1 - lat0) * (CAST(k * 3600000000 - t0 AS DOUBLE) / CAST(t1 - t0 AS DOUBLE)) AS lat,
       lon0 + (lon1 - lon0) * (CAST(k * 3600000000 - t0 AS DOUBLE) / CAST(t1 - t0 AS DOUBLE)) AS lon
FROM s
"""


# rectangle fixtures for the bbox overlap join: deterministic half-sizes
# derived from the key so engine and oracle build identical doubles
_RL_HH = "(0.02 + (point_id % 7) * 0.01)"
_RL_HW = "(0.02 + (point_id % 5) * 0.01)"
_RR_HH = "(0.02 + (id % 6) * 0.01)"
_RR_HW = "(0.02 + (id % 9) * 0.005)"


def q_bbox_join(spark, sf_dir):
    """2-D rectangle overlap join (closed intervals): cell-cover equi-join
    + anchor-cell exactly-once emission + exact predicate refine — the
    spatial analogue of the bucketed interval join."""
    from ..operators.spatial import bbox_join

    pts = geo_points(spark, sf_dir).filter(F.col("point_id") % 17 == 0)
    lrects = pts.selectExpr(
        "point_id AS id",
        f"lat - {_RL_HH} AS south",
        f"lon - {_RL_HW} AS west",
        f"lat + {_RL_HH} AS north",
        f"lon + {_RL_HW} AS east",
    )
    feats = geo_features(spark, sf_dir)
    rrects = feats.selectExpr(
        "id",
        f"lat - {_RR_HH} AS south",
        f"lon - {_RR_HW} AS west",
        f"lat + {_RR_HH} AS north",
        f"lon + {_RR_HW} AS east",
    )
    return bbox_join(lrects, rrects, res=9)


O_BBOX_JOIN = f"""
WITH {PTS_CTE}, {FEATS_CTE},
lr AS (
  SELECT point_id AS id,
         lat - {_RL_HH} AS south, lon - {_RL_HW} AS west,
         lat + {_RL_HH} AS north, lon + {_RL_HW} AS east
  FROM pts WHERE point_id % 17 = 0
),
rr AS (
  SELECT id,
         lat - {_RR_HH} AS south, lon - {_RR_HW} AS west,
         lat + {_RR_HH} AS north, lon + {_RR_HW} AS east
  FROM feats
)
SELECT lr.id AS left_id, rr.id AS right_id
FROM lr JOIN rr
  ON lr.west <= rr.east AND rr.west <= lr.east
 AND lr.south <= rr.north AND rr.south <= lr.north
"""


def q_heatmap_pyramid(spark, sf_dir):
    """Pyramid zoom-out gate: render res-7 heatmap tiles, compose res-6
    parents from 2x2-downsampled children, return (tile, n_points). The
    rows flow through BOTH image kernels (render + mosaic decode/
    compose); n_points is SQL-checkable because floor(floor(g/64)/2) ==
    floor(g/128) makes the parent key equal direct res-6 assignment.
    Pixel math is pytest-gated (tests/test_spatial_family.py)."""
    from ..operators.heatmap import mosaic_parent_tiles, render_heatmap_tiles

    child = render_heatmap_tiles(geo_points(spark, sf_dir), res=7, tile_px=64)
    return mosaic_parent_tiles(child, res=7, tile_px=64).select("tile", "n_points")


O_HEATMAP_PYRAMID = f"""
WITH {PTS_CTE}
SELECT {_tile_sql(6)} AS tile, count(*) AS n_points
FROM pts GROUP BY 1
"""


def q_stream_heatmap(spark, sf_dir):
    """Streaming-vs-batch parity gate for the density raster state: the
    point fixture staged as 3 parquet files feeds 3 micro-batches
    through the stateful pixel histogram; the final state's per-tile
    rollup must equal the batch ``heatmap_stats`` oracle exactly."""
    from ..streaming.microbatch import run_heatmap_stream_once

    return _run_staged_stream(
        geo_points(spark, sf_dir),
        lambda src, ckpt: run_heatmap_stream_once(
            spark, src, ckpt, res=7, tile_px=64
        ),
    )


def q_polygon_area(spark, sf_dir):
    """Shoelace signed area + cross-weighted centroid over the shared
    polygon fixture — per-edge cross terms quantized to bigint before the
    sum (merge-order independent), one double division at the end."""
    from ..operators.spatial import polygon_area_centroid

    return polygon_area_centroid(geo_polygons_df(spark))


_POLY_VERTS_SQL = ",\n    ".join(
    f"('{pid}', {i}, {lat!r}, {lon!r})"
    for pid, ring in GEO_POLYGONS
    for i, (lat, lon) in enumerate(ring)
)

# the oracle recomputes the shoelace from the SAME vertex literals with
# the engine's exact expression shapes (((x1*y2 - x2*y1) * (x1+x2)) * 1e9
# etc.), so every double is bit-identical
O_POLYGON_AREA = f"""
WITH v(polygon_id, i, lat, lon) AS (VALUES
    {_POLY_VERTS_SQL}),
nv AS (SELECT polygon_id, count(*) AS n FROM v GROUP BY 1),
e AS (
  SELECT v.polygon_id, v.lon AS x1, v.lat AS y1, w.lon AS x2, w.lat AS y2
  FROM v JOIN nv USING (polygon_id)
  JOIN v w ON w.polygon_id = v.polygon_id AND w.i = (v.i + 1) % nv.n
),
t AS (
  SELECT polygon_id,
         CAST(floor((x1 * y2 - x2 * y1) * 1000000000.0) AS BIGINT) AS aq,
         CAST(floor((x1 * y2 - x2 * y1) * (x1 + x2) * 1000000000.0) AS BIGINT) AS cxq,
         CAST(floor((x1 * y2 - x2 * y1) * (y1 + y2) * 1000000000.0) AS BIGINT) AS cyq
  FROM e
)
SELECT polygon_id, count(*) AS n_vertices,
       CAST(sum(aq) AS BIGINT) AS area2_q,
       CAST(sum(cxq) AS DOUBLE) / (3.0 * CAST(sum(aq) AS DOUBLE)) AS cx,
       CAST(sum(cyq) AS DOUBLE) / (3.0 * CAST(sum(aq) AS DOUBLE)) AS cy
FROM t GROUP BY polygon_id
"""


def q_heatmap_tiles(spark, sf_dir):
    """Density heatmap core: per-tile rollup of the res-7 pixel histogram
    (64 px per tile edge) over the point fixture. Gates the histogram +
    saturating min(255, n) intensity aggregation the PNG tile renderer
    consumes (render/decode byte parity is pytest-gated)."""
    from ..operators.heatmap import heatmap_stats

    return heatmap_stats(geo_points(spark, sf_dir), res=7, tile_px=64)


# fine grid nn = 128 * 64 = 8192; tile / pixel split is exact integer
# division because tile_px is a power of two
O_HEATMAP_TILES = f"""
WITH {PTS_CTE},
g AS (
  SELECT CAST(least(greatest(floor((lon + 180.0) / 360.0 * 8192.0), 0), 8191) AS BIGINT) AS gx,
         CAST(least(greatest(floor((lat + 90.0) / 180.0 * 8192.0), 0), 8191) AS BIGINT) AS gy
  FROM pts
),
h AS (
  SELECT (gx // 64) * 128 + (gy // 64) AS tile, gx % 64 AS px, gy % 64 AS py,
         count(*) AS n
  FROM g GROUP BY 1, 2, 3
)
SELECT tile, CAST(sum(n) AS BIGINT) AS n_points, count(*) AS n_px,
       max(n) AS max_px, CAST(sum(least(n, 255)) AS BIGINT) AS intensity_sum
FROM h GROUP BY tile
"""


REGISTRY.update(
    {
        "embedding_lsh_ann_kernel": (q_embedding_lsh_ann_kernel, O_EMBEDDING_LSH_ANN),
        "embedding_topk_sharded": (q_embedding_topk_sharded, O_EMBEDDING_TOPK),
        "video_frame_stats": (q_video_frame_stats, O_VIDEO_FRAMES),
        "pcm16_features": (q_pcm16_features, O_PCM16_FEATURES),
        "video_scene_cuts": (q_video_scene_cuts, O_VIDEO_SCENE_CUTS),
        "audio_vad_segments": (q_audio_vad_segments, O_AUDIO_VAD),
        "doc_repetition": (q_doc_repetition, O_DOC_REPETITION),
        "pii_redact": (q_pii_redact, O_PII_REDACT),
        "doc_chunks": (q_doc_chunks, O_DOC_CHUNKS),
        "tile_pyramid": (q_tile_pyramid, O_TILE_PYRAMID),
        "grouped_quantiles": (q_grouped_quantiles, O_GROUPED_QUANTILES),
        "lang_coverage": (q_lang_coverage, O_LANG_COVERAGE),
        "images_decontaminate": (q_images_decontaminate, O_IMAGES_DECON),
        "wide_report": (q_wide_report, O_WIDE_REPORT),
        "report_mediawiki_roundtrip": (q_report_mediawiki_roundtrip, O_REPORT_MEDIAWIKI),
        "flatten_distinct": (q_flatten_distinct, O_FLATTEN_DISTINCT),
        "sessionize": (q_sessionize, O_SESSIONIZE),
        "images_tile_assign": (q_images_tile_assign, O_IMAGES_TILE),
        "images_phash_pairs": (q_images_phash_pairs, O_IMAGES_PHASH),
        "snapshot_compact": (q_snapshot_compact, O_SNAPSHOT_COMPACT),
        "snapshot_expire": (q_snapshot_expire, O_SNAPSHOT_EXPIRE),
        "stream_dedup": (q_stream_dedup, O_STREAM_DEDUP),
        "distance_join": (q_distance_join, O_DISTANCE_JOIN),
        "geo_clusters": (q_geo_clusters, O_GEO_CLUSTERS),
        "trajectory_stats": (q_trajectory_stats, O_TRAJECTORY_STATS),
        "rasterize_polygons": (q_rasterize_polygons, O_RASTERIZE),
        "heatmap_tiles": (q_heatmap_tiles, O_HEATMAP_TILES),
        "polygon_area": (q_polygon_area, O_POLYGON_AREA),
        "bbox_join": (q_bbox_join, O_BBOX_JOIN),
        "trajectory_resample": (q_trajectory_resample, O_TRAJECTORY_RESAMPLE),
        "heatmap_pyramid": (q_heatmap_pyramid, O_HEATMAP_PYRAMID),
        "stream_heatmap": (q_stream_heatmap, O_HEATMAP_TILES),
    }
)


def q_geohash_encode(spark, sf_dir):
    """Base-32 geohash encode over the point fixture — pure-codegen Column
    expression (functions/geohash.py ``geohash_col``): floor bins, bit
    interleave via shift/mask, element_at over the constant alphabet. No
    UDF, no shuffle; the scan is the whole plan. The interchange form for
    the ecosystem the reference lives in (OSM tooling speaks geohash;
    reference addresses space via Overpass bbox/qt,
    /root/reference/lib/osm_utils.py:24-48)."""
    from ..functions.geohash import geohash_col

    pts = geo_points(spark, sf_dir)
    return pts.select(
        "point_id", geohash_col(F.col("lat"), F.col("lon"), 7).alias("geohash")
    )


def _geohash_oracle(select_chars: str) -> str:
    from ..functions.geohash import geohash_sql_layers

    ix, iy, g, chars = geohash_sql_layers("lat", "lon", 7)
    return f"""
WITH {PTS_CTE},
b AS (SELECT point_id, {ix} AS __ix, {iy} AS __iy FROM pts),
gg AS (SELECT point_id, {g} AS __g FROM b),
gh AS (SELECT point_id, {chars} AS geohash FROM gg)
{select_chars}
"""


O_GEOHASH_ENCODE = _geohash_oracle("SELECT point_id, geohash FROM gh")


def q_geohash_rollup(spark, sf_dir):
    """Proximity-bucket rollup on a geohash PREFIX: the 5-bit-per-char
    prefix property means ``substring(geohash, 1, 4)`` IS the precision-4
    geohash of the same point, so coarser rollups need no re-encode —
    one groupBy on the prefix (partial-aggregated map-side) instead of a
    second trig/bin pass. Returns per-bucket point count + distinct full
    hashes."""
    from ..functions.geohash import geohash_col

    pts = geo_points(spark, sf_dir)
    return (
        pts.select(geohash_col(F.col("lat"), F.col("lon"), 7).alias("geohash"))
        .groupBy(F.substring("geohash", 1, 4).alias("bucket"))
        .agg(
            F.count("*").alias("n_points"),
            F.countDistinct("geohash").alias("n_cells"),
        )
    )


O_GEOHASH_ROLLUP = _geohash_oracle(
    "SELECT substr(geohash, 1, 4) AS bucket, count(*) AS n_points, "
    "CAST(count(DISTINCT geohash) AS BIGINT) AS n_cells FROM gh GROUP BY 1"
)


def q_zonal_stats(spark, sf_dir):
    """Raster zonal statistics: per polygon zone, aggregate the res-8
    point-density raster (points pre-reduced to a tile histogram BEFORE
    the zone join, so the join carries tiles, not points). Zone
    membership = rasterize_polygons' center-inside burn rule, so the
    oracle reuses the same polygon predicates on the same cell centers."""
    from ..operators.spatial import zonal_stats

    return zonal_stats(geo_points(spark, sf_dir), geo_polygons_df(spark), res=8)


def _raster_cells_cte(res: int) -> str:
    n = 1 << res
    return f"""
g AS (SELECT x.ix, y.iy
      FROM generate_series(0, {n - 1}) x(ix), generate_series(0, {n - 1}) y(iy)),
c AS (SELECT ix * {n} + iy AS tile,
             (CAST(iy AS DOUBLE) + 0.5) / {n}.0 * 180.0 - 90.0 AS lat,
             (CAST(ix AS DOUBLE) + 0.5) / {n}.0 * 360.0 - 180.0 AS lon
      FROM g)
"""


O_ZONAL_STATS = (
    f"WITH {PTS_CTE}, {_raster_cells_cte(8)}, "
    + "z AS ("
    + " UNION ALL ".join(
        f"SELECT '{pid}' AS polygon_id, tile FROM c WHERE {pred}"
        for pid, pred in POLY_PRED_SQL.items()
    )
    + f"), h AS (SELECT {_tile_sql(8)} AS tile, count(*) AS __n FROM pts GROUP BY 1) "
    + "SELECT polygon_id, count(*) AS n_tiles, count(h.__n) AS n_occupied, "
    + "CAST(coalesce(sum(h.__n), 0) AS BIGINT) AS n_points, "
    + "CAST(coalesce(max(h.__n), 0) AS BIGINT) AS max_tile_n "
    + "FROM z LEFT JOIN h USING (tile) GROUP BY polygon_id"
)


# short synthetic "road segments" derived from the trajectory lattice:
# endpoint A at the event's lattice position, endpoint B displaced by a
# deterministic +-0.02-degree jitter (consecutive-event segments would
# span the whole region — useless as snap candidates). The two jitter
# congruences (mod 41) have disjoint zero sets, so no segment ever
# degenerates to a point; the len2=0 guard stays in both trees anyway.
SEG_DLAT_SQL = "((((event_id * 31 + 7) % 41) - 20) / CAST(1000.0 AS DOUBLE))"
SEG_DLON_SQL = "((((event_id * 17 + 3) % 41) - 20) / CAST(1000.0 AS DOUBLE))"
SNAP_RADIUS = 0.05


def q_snap_to_segments(spark, sf_dir):
    """Nearest-segment snap (map-matching primitive): a spread sample of
    fixture points (point_id % 7 == 1 — the % 5 == 0 residue would pick
    exactly the hot-cluster points, which sit far from every segment)
    snapped to the closest synthetic road segment within 0.05
    degrees — cell-cover candidate join + exact point-to-segment
    refine + min-struct arg-min (operators/spatial.py
    ``snap_to_segments``)."""
    from ..operators.spatial import snap_to_segments

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev.createOrReplaceTempView("__snap_events")
    segs = spark.sql(
        f"SELECT event_id AS seg_id, {TRAJ_LAT_SQL} AS lat1, "
        f"{TRAJ_LON_SQL} AS lon1, {TRAJ_LAT_SQL} + {SEG_DLAT_SQL} AS lat2, "
        f"{TRAJ_LON_SQL} + {SEG_DLON_SQL} AS lon2 FROM __snap_events"
    )
    pts = geo_points(spark, sf_dir).filter(F.col("point_id") % 7 == 1)
    return snap_to_segments(pts, segs, radius=SNAP_RADIUS)


# the oracle's candidate set is the radius-expanded bbox (DuckDB IEJoin);
# the engine's is the cell cover — both are supersets of the radius disk,
# and the exact d2 <= r^2 refine + (quantized-distance, seg_id) ranking
# are the same expression trees, so the winners agree bit-for-bit
O_SNAP_TO_SEGMENTS = f"""
WITH {PTS_CTE},
p AS (SELECT point_id, lat, lon FROM pts WHERE point_id % 7 = 1),
segs AS (
  SELECT event_id AS seg_id, {TRAJ_LAT_SQL} AS lat1, {TRAJ_LON_SQL} AS lon1,
         {TRAJ_LAT_SQL} + {SEG_DLAT_SQL} AS lat2,
         {TRAJ_LON_SQL} + {SEG_DLON_SQL} AS lon2
  FROM events
),
cand AS (
  SELECT p.point_id, p.lat AS plat, p.lon AS plon, s.*
  FROM p JOIN segs s
    ON p.lon >= LEAST(s.lon1, s.lon2) - {SNAP_RADIUS!r}
   AND p.lon <= GREATEST(s.lon1, s.lon2) + {SNAP_RADIUS!r}
   AND p.lat >= LEAST(s.lat1, s.lat2) - {SNAP_RADIUS!r}
   AND p.lat <= GREATEST(s.lat1, s.lat2) + {SNAP_RADIUS!r}
),
e1 AS (
  SELECT point_id, seg_id, plat, plon, lat1, lon1,
         lon2 - lon1 AS ex, lat2 - lat1 AS ey
  FROM cand
),
e2 AS (
  SELECT *, ex * ex + ey * ey AS len2,
         (plon - lon1) * ex + (plat - lat1) * ey AS dot
  FROM e1
),
e3 AS (
  SELECT *, LEAST(GREATEST(
             CASE WHEN len2 = CAST(0.0 AS DOUBLE) THEN CAST(0.0 AS DOUBLE)
                  ELSE dot / len2 END,
             CAST(0.0 AS DOUBLE)), CAST(1.0 AS DOUBLE)) AS t
  FROM e2
),
e4 AS (
  SELECT point_id, seg_id, t,
         (plon - (lon1 + t * ex)) * (plon - (lon1 + t * ex))
       + (plat - (lat1 + t * ey)) * (plat - (lat1 + t * ey)) AS d2
  FROM e3
),
f AS (
  SELECT point_id, seg_id, t, d2,
         CAST(FLOOR(d2 * 1000000000.0) AS BIGINT) AS qd
  FROM e4
  WHERE d2 <= CAST({SNAP_RADIUS * SNAP_RADIUS!r} AS DOUBLE)
),
r AS (
  SELECT point_id, seg_id, t, d2,
         row_number() OVER (PARTITION BY point_id ORDER BY qd ASC, seg_id ASC) AS rn
  FROM f
)
SELECT point_id, seg_id, t, d2 AS dist FROM r WHERE rn = 1
"""


def q_image_palette(spark, sf_dir):
    """Posterized 64-color palette stats per image over the RAW subset of
    the image fixture (the oracle re-decodes the IMR1 byte layout —
    4-byte magic + <HHB> header + RGB triples — from hex() in SQL, so
    only the losslessly hex-decodable format is gated; the kernel itself
    runs on all four formats and is PSNR/pytest-covered there)."""
    from ..operators.images import image_palette

    imgs = _synth_images(spark, sf_dir).filter(F.col("fmt") == "raw")
    return image_palette(imgs, bits=2)


O_IMAGE_PALETTE = f"""
WITH v AS (
  SELECT image_id, hex(bytes) AS hx, octet_length(bytes) AS len
  FROM read_parquet('{SYNTH_SF001_IMAGES}') WHERE fmt = 'raw'
),
series AS (SELECT i FROM generate_series(0, 3100) s(i)),
b AS (
  SELECT image_id, i,
         (strpos('0123456789ABCDEF', substr(hx, 2*i + 1, 1)) - 1) * 16
       + (strpos('0123456789ABCDEF', substr(hx, 2*i + 2, 1)) - 1) AS bv
  FROM v JOIN series ON i < len
),
px AS (
  SELECT image_id, (i - 9) // 3 AS p,
         CAST(SUM(CASE (i - 9) % 3 WHEN 0 THEN (bv // 64) * 16
                                   WHEN 1 THEN (bv // 64) * 4
                                   ELSE bv // 64 END) AS BIGINT) AS code
  FROM b WHERE i >= 9 GROUP BY 1, 2
),
hist AS (SELECT image_id, code, count(*) AS n FROM px GROUP BY 1, 2),
tot AS (
  SELECT image_id, CAST(SUM(n) AS BIGINT) AS n_px,
         count(*) AS n_colors
  FROM hist GROUP BY 1
),
top AS (
  SELECT image_id, code AS top_color, CAST(n AS BIGINT) AS top_count,
         row_number() OVER (PARTITION BY image_id ORDER BY n DESC, code ASC) AS rn
  FROM hist
)
SELECT t.image_id, t.n_px, t.n_colors, p.top_color, p.top_count
FROM tot t JOIN top p ON p.image_id = t.image_id AND p.rn = 1
"""


CLIP_RES = 12  # ~0.04-degree cells: a typical synthetic segment spans 1-2


def q_clip_segments(spark, sf_dir):
    """Vector-tile cutting: Liang-Barsky clip of the synthetic road
    segments against every res-12 grid tile they cross
    (operators/spatial.py ``clip_segments_to_tiles``) — param interval +
    clipped coordinates, exactly-once per (segment, tile)."""
    from ..operators.spatial import clip_segments_to_tiles

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev.createOrReplaceTempView("__clip_events")
    segs = spark.sql(
        f"SELECT event_id AS seg_id, {TRAJ_LAT_SQL} AS lat1, "
        f"{TRAJ_LON_SQL} AS lon1, {TRAJ_LAT_SQL} + {SEG_DLAT_SQL} AS lat2, "
        f"{TRAJ_LON_SQL} + {SEG_DLON_SQL} AS lon2 FROM __clip_events"
    )
    return clip_segments_to_tiles(segs, res=CLIP_RES)


def _clip_gidx_sql(expr: str, offset: float, span: float, n: int) -> str:
    return (
        f"LEAST(GREATEST(CAST(FLOOR(({expr} + {offset}) / CAST({span} AS DOUBLE)"
        f" * CAST({n} AS DOUBLE)) AS BIGINT), 0), {n - 1})"
    )


def _o_clip_segments(res: int) -> str:
    n = 1 << res
    # the slab helper mirrors the engine's expression trees exactly; the
    # +-1e308 sentinels (not IEEE inf — see the operator docstring) keep
    # LEAST/GREATEST semantics identical across engines
    return f"""
WITH segs AS (
  SELECT event_id AS seg_id, {TRAJ_LAT_SQL} AS lat1, {TRAJ_LON_SQL} AS lon1,
         {TRAJ_LAT_SQL} + {SEG_DLAT_SQL} AS lat2,
         {TRAJ_LON_SQL} + {SEG_DLON_SQL} AS lon2
  FROM events
),
r0 AS (
  SELECT *, {_clip_gidx_sql("LEAST(lon1, lon2)", 180.0, 360.0, n)} AS ix0,
            {_clip_gidx_sql("GREATEST(lon1, lon2)", 180.0, 360.0, n)} AS ix1,
            {_clip_gidx_sql("LEAST(lat1, lat2)", 90.0, 180.0, n)} AS iy0,
            {_clip_gidx_sql("GREATEST(lat1, lat2)", 90.0, 180.0, n)} AS iy1
  FROM segs
),
cx AS (SELECT *, unnest(range(ix0, ix1 + 1)) AS ccx FROM r0),
cy AS (SELECT *, unnest(range(iy0, iy1 + 1)) AS ccy FROM cx),
box AS (
  SELECT seg_id, lat1, lon1, lat2, lon2, ccx, ccy,
         CAST(ccx AS DOUBLE) * 360.0 / CAST({n} AS DOUBLE) - 180.0 AS w,
         CAST(ccx + 1 AS DOUBLE) * 360.0 / CAST({n} AS DOUBLE) - 180.0 AS e,
         CAST(ccy AS DOUBLE) * 180.0 / CAST({n} AS DOUBLE) - 90.0 AS s,
         CAST(ccy + 1 AS DOUBLE) * 180.0 / CAST({n} AS DOUBLE) - 90.0 AS nb,
         lon2 - lon1 AS dx, lat2 - lat1 AS dy
  FROM cy
),
sl AS (
  SELECT *,
    CASE WHEN dx = CAST(0.0 AS DOUBLE)
         THEN CASE WHEN lon1 >= w AND lon1 <= e THEN -1e308 ELSE 1e308 END
         ELSE LEAST((w - lon1) / dx, (e - lon1) / dx) END AS ex_enter,
    CASE WHEN dx = CAST(0.0 AS DOUBLE)
         THEN CASE WHEN lon1 >= w AND lon1 <= e THEN 1e308 ELSE -1e308 END
         ELSE GREATEST((w - lon1) / dx, (e - lon1) / dx) END AS ex_exit,
    CASE WHEN dy = CAST(0.0 AS DOUBLE)
         THEN CASE WHEN lat1 >= s AND lat1 <= nb THEN -1e308 ELSE 1e308 END
         ELSE LEAST((s - lat1) / dy, (nb - lat1) / dy) END AS ey_enter,
    CASE WHEN dy = CAST(0.0 AS DOUBLE)
         THEN CASE WHEN lat1 >= s AND lat1 <= nb THEN 1e308 ELSE -1e308 END
         ELSE GREATEST((s - lat1) / dy, (nb - lat1) / dy) END AS ey_exit
  FROM box
),
tt AS (
  SELECT *, GREATEST(CAST(0.0 AS DOUBLE), ex_enter, ey_enter) AS t0,
            LEAST(CAST(1.0 AS DOUBLE), ex_exit, ey_exit) AS t1
  FROM sl
)
SELECT seg_id, ccx * {n} + ccy AS tile, t0, t1,
       lon1 + t0 * dx AS xa, lat1 + t0 * dy AS ya,
       lon1 + t1 * dx AS xb, lat1 + t1 * dy AS yb
FROM tt WHERE t0 <= t1
"""


O_CLIP_SEGMENTS = _o_clip_segments(CLIP_RES)


REGISTRY.update(
    {
        "geohash_encode": (q_geohash_encode, O_GEOHASH_ENCODE),
        "geohash_rollup": (q_geohash_rollup, O_GEOHASH_ROLLUP),
        "zonal_stats": (q_zonal_stats, O_ZONAL_STATS),
        "snap_to_segments": (q_snap_to_segments, O_SNAP_TO_SEGMENTS),
        "image_palette": (q_image_palette, O_IMAGE_PALETTE),
        "clip_segments": (q_clip_segments, O_CLIP_SEGMENTS),
    }
)


FOCAL_RES = 10
MORAN_RES = 8


def q_focal_stats(spark, sf_dir):
    """Raster map algebra: 3x3 focal sum/count/max over the res-10 point
    density raster (operators/spatial.py ``focal_stats``) — histogram
    first, then a 9-offset fan-out of HISTOGRAM rows only; the self row
    is recovered inside the same aggregation (no join)."""
    from ..operators.spatial import focal_stats

    return focal_stats(geo_points(spark, sf_dir), res=FOCAL_RES)


def _o_focal_stats(res: int) -> str:
    n = 1 << res
    offs = ", ".join(f"({dx}, {dy})" for dx in (-1, 0, 1) for dy in (-1, 0, 1))
    return f"""
WITH {PTS_CTE},
hist AS (SELECT {_tile_sql(res)} AS tile, count(*) AS n FROM pts GROUP BY 1),
fan AS (
  SELECT tile // {n} + dx AS mx, tile % {n} + dy AS my, n,
         (dx = 0 AND dy = 0) AS is_self
  FROM hist, (VALUES {offs}) o(dx, dy)
  WHERE tile // {n} + dx BETWEEN 0 AND {n - 1}
    AND tile % {n} + dy BETWEEN 0 AND {n - 1}
)
SELECT mx * {n} + my AS tile,
       max(CASE WHEN is_self THEN n END) AS n_rows,
       CAST(sum(n) AS BIGINT) AS focal_sum,
       count(*) AS focal_n,
       max(n) AS focal_max
FROM fan GROUP BY 1
HAVING max(CASE WHEN is_self THEN n END) IS NOT NULL
"""


O_FOCAL_STATS = _o_focal_stats(FOCAL_RES)


def q_moran_i(spark, sf_dir):
    """Global Moran's I of the res-8 density raster, rook adjacency over
    all 4^res cells with empties as 0 (operators/spatial.py ``moran_i``)
    — exact DECIMAL(38,0) integer algebra, histogram-only plan (the
    empty cells are folded in closed form, never materialized)."""
    from ..operators.spatial import moran_i

    return moran_i(geo_points(spark, sf_dir), res=MORAN_RES)


def _o_moran_i(res: int) -> str:
    n = 1 << res
    n_cells = n * n
    w_sum = 4 * n * (n - 1)
    deg = (
        f"((CASE WHEN tile // {n} > 0 THEN 1 ELSE 0 END)"
        f" + (CASE WHEN tile // {n} < {n - 1} THEN 1 ELSE 0 END)"
        f" + (CASE WHEN tile % {n} > 0 THEN 1 ELSE 0 END)"
        f" + (CASE WHEN tile % {n} < {n - 1} THEN 1 ELSE 0 END))"
    )
    # the engine computes the same expansions in DECIMAL(38,0); HUGEINT
    # here — both exact, so the final integer->double casts agree bitwise
    return f"""
WITH {PTS_CTE},
hist AS (SELECT {_tile_sql(res)} AS tile, count(*) AS x FROM pts GROUP BY 1),
base AS (
  SELECT CAST(sum(x) AS HUGEINT) AS s, CAST(sum(x * x) AS HUGEINT) AS q,
         CAST(sum({deg} * x) AS HUGEINT) AS d, count(*) AS occ
  FROM hist
),
fan AS (
  SELECT (tile // {n} + dx) * {n} + (tile % {n} + dy) AS ntile, x AS xi
  FROM hist, (VALUES (-1, 0), (1, 0), (0, -1), (0, 1)) o(dx, dy)
  WHERE tile // {n} + dx BETWEEN 0 AND {n - 1}
    AND tile % {n} + dy BETWEEN 0 AND {n - 1}
),
pairs AS (
  SELECT COALESCE(CAST(sum(f.xi * h.x) AS HUGEINT), CAST(0 AS HUGEINT)) AS p
  FROM fan f JOIN hist h ON f.ntile = h.tile
),
alg AS (
  SELECT occ,
    CAST({n_cells} AS HUGEINT) * (CAST({n_cells} AS HUGEINT) * {n_cells} * p
      - 2 * CAST({n_cells} AS HUGEINT) * s * d
      + s * s * CAST({w_sum} AS HUGEINT)) AS num_i,
    CAST({w_sum} AS HUGEINT) * (CAST({n_cells} AS HUGEINT) * {n_cells} * q
      - 2 * CAST({n_cells} AS HUGEINT) * s * s
      + CAST({n_cells} AS HUGEINT) * s * s) AS den_i
  FROM base, pairs
)
SELECT {res} AS res, CAST({n_cells} AS BIGINT) AS n_cells,
       CAST({w_sum} AS BIGINT) AS w_sum, occ AS occupied,
       CAST(num_i AS DOUBLE) AS num, CAST(den_i AS DOUBLE) AS den,
       CAST(num_i AS DOUBLE) / CAST(den_i AS DOUBLE) AS moran_i
FROM alg
"""


O_MORAN_I = _o_moran_i(MORAN_RES)


REGISTRY.update(
    {
        "focal_stats": (q_focal_stats, O_FOCAL_STATS),
        "moran_i": (q_moran_i, O_MORAN_I),
    }
)


PATCH = 8


def q_image_patches(spark, sf_dir):
    """ViT-style patch tokenization over the RAW subset of the image
    fixture (operators/images.py ``extract_patches``): one row per 8x8
    patch with exact integer channel sums and a position-weighted byte
    checksum. The oracle re-decodes the IMR1 layout from hex() in SQL
    and replays the patch grid (partial edges dropped) byte-for-byte."""
    from ..operators.images import extract_patches

    imgs = _synth_images(spark, sf_dir).filter(F.col("fmt") == "raw")
    return extract_patches(imgs, patch=PATCH)


def _o_image_patches(patch: int) -> str:
    return f"""
WITH v AS (
  SELECT image_id, w, h, hex(bytes) AS hx, octet_length(bytes) AS len
  FROM read_parquet('{SYNTH_SF001_IMAGES}') WHERE fmt = 'raw'
),
series AS (SELECT i FROM generate_series(0, 3100) s(i)),
b AS (
  SELECT image_id, w, h, i,
         (strpos('0123456789ABCDEF', substr(hx, 2*i + 1, 1)) - 1) * 16
       + (strpos('0123456789ABCDEF', substr(hx, 2*i + 2, 1)) - 1) AS bv
  FROM v JOIN series ON i < len
),
px AS (
  SELECT image_id, (i - 9) // 3 // w AS r, (i - 9) // 3 % w AS c,
         (i - 9) % 3 AS ch, bv, w, h
  FROM b WHERE i >= 9
),
valid AS (
  SELECT * FROM px
  WHERE r < (h // {patch}) * {patch} AND c < (w // {patch}) * {patch}
)
SELECT image_id, r // {patch} AS patch_row, c // {patch} AS patch_col,
       CAST(SUM(CASE WHEN ch = 0 THEN bv ELSE 0 END) AS BIGINT) AS sum_r,
       CAST(SUM(CASE WHEN ch = 1 THEN bv ELSE 0 END) AS BIGINT) AS sum_g,
       CAST(SUM(CASE WHEN ch = 2 THEN bv ELSE 0 END) AS BIGINT) AS sum_b,
       CAST(SUM(bv * (3 * ((r % {patch}) * {patch} + (c % {patch})) + ch + 1))
            AS BIGINT) AS chk
FROM valid GROUP BY 1, 2, 3
"""


O_IMAGE_PATCHES = _o_image_patches(PATCH)


REGISTRY.update({"image_patches": (q_image_patches, O_IMAGE_PATCHES)})


def q_patch_dup_pairs(spark, sf_dir):
    """Cross-image near-duplicate patch detection
    (operators/images.py ``duplicate_patch_pairs``): image pairs sharing
    >= 2 aligned 8x8 patches whose per-channel sums agree after >>10
    quantization — the patch-level analogue of the pHash banding join,
    over a 1-in-5 sample of the RAW subset. The oracle replays the patch
    grid from hex() bytes and the fingerprint self-join in SQL."""
    from ..operators.images import duplicate_patch_pairs

    imgs = _synth_images(spark, sf_dir).filter(
        (F.col("fmt") == "raw")
        & (F.substring("image_id", 4, 9).cast("long") % 5 == 0)
    )
    return duplicate_patch_pairs(imgs, patch=PATCH, sum_shift=10, min_shared=2)


O_PATCH_DUP_PAIRS = f"""
WITH v AS (
  SELECT image_id, w, h, hex(bytes) AS hx, octet_length(bytes) AS len
  FROM read_parquet('{SYNTH_SF001_IMAGES}')
  WHERE fmt = 'raw' AND CAST(substr(image_id, 4, 9) AS BIGINT) % 5 = 0
),
series AS (SELECT i FROM generate_series(0, 3100) s(i)),
b AS (
  SELECT image_id, w, h, i,
         (strpos('0123456789ABCDEF', substr(hx, 2*i + 1, 1)) - 1) * 16
       + (strpos('0123456789ABCDEF', substr(hx, 2*i + 2, 1)) - 1) AS bv
  FROM v JOIN series ON i < len
),
px AS (
  SELECT image_id, (i - 9) // 3 // w AS r, (i - 9) // 3 % w AS c,
         (i - 9) % 3 AS ch, bv, w, h
  FROM b WHERE i >= 9
),
fp AS (
  SELECT image_id, r // {PATCH} AS patch_row, c // {PATCH} AS patch_col,
         SUM(CASE WHEN ch = 0 THEN bv ELSE 0 END) >> 10 AS qr,
         SUM(CASE WHEN ch = 1 THEN bv ELSE 0 END) >> 10 AS qg,
         SUM(CASE WHEN ch = 2 THEN bv ELSE 0 END) >> 10 AS qb
  FROM px
  WHERE r < (h // {PATCH}) * {PATCH} AND c < (w // {PATCH}) * {PATCH}
  GROUP BY 1, 2, 3
)
SELECT a.image_id AS img_a, b.image_id AS img_b,
       CAST(count(*) AS BIGINT) AS n_shared
FROM fp a JOIN fp b USING (patch_row, patch_col, qr, qg, qb)
WHERE a.image_id < b.image_id
GROUP BY 1, 2
HAVING count(*) >= 2
"""


REGISTRY.update({"patch_dup_pairs": (q_patch_dup_pairs, O_PATCH_DUP_PAIRS)})


def q_hex_rollup(spark, sf_dir):
    """H3-flavored hexagonal binning rollup (operators/spatial.py
    ``hex_rollup``): points quantized to micro-degree ints and assigned
    to the nearer center of a centered-rectangular lattice (whose Voronoi
    cells are hexagons), then one map-side-combined groupBy for count +
    exact integer offset sums. The oracle replays the same integer
    nearest-center decision in SQL."""
    from ..operators.spatial import hex_rollup

    return hex_rollup(geo_points(spark, sf_dir), a=5000, b=8660)


O_HEX_ROLLUP = f"""
WITH {PTS_CTE},
q AS (
  SELECT point_id,
         CAST(floor((lon + 5.0) * 100000.0) AS BIGINT) AS x,
         CAST(floor((lat + -35.0) * 100000.0) AS BIGINT) AS y
  FROM pts
),
c AS (
  SELECT x, y,
         ((x + 5000) // 10000) * 10000 AS cxa,
         ((y + 8660) // 17320) * 17320 AS cya,
         (x // 10000) * 10000 + 5000 AS cxb,
         (y // 17320) * 17320 + 8660 AS cyb
  FROM q
),
asg AS (
  SELECT x, y,
         CASE WHEN (x - cxa) * (x - cxa) + (y - cya) * (y - cya)
                <= (x - cxb) * (x - cxb) + (y - cyb) * (y - cyb)
              THEN cxa ELSE cxb END AS hex_x,
         CASE WHEN (x - cxa) * (x - cxa) + (y - cya) * (y - cya)
                <= (x - cxb) * (x - cxb) + (y - cyb) * (y - cyb)
              THEN cya ELSE cyb END AS hex_y
  FROM c
)
SELECT hex_x, hex_y, CAST(count(*) AS BIGINT) AS n_pts,
       CAST(SUM(x - hex_x) AS BIGINT) AS sum_dx,
       CAST(SUM(y - hex_y) AS BIGINT) AS sum_dy
FROM asg GROUP BY 1, 2
"""


REGISTRY.update({"hex_rollup": (q_hex_rollup, O_HEX_ROLLUP)})


def q_hist_eq(spark, sf_dir):
    """Per-image histogram-equalization mapping (operators/images.py
    ``hist_equalize_stats``) over the RAW subset: integer Rec.709
    luminance histogram -> running CDF -> classic (cdf - cdf_min) * 255
    // (n - cdf_min) remap, one row per occupied level, over a 1-in-8
    sample of the RAW subset (the per-level fan-out is ~136 rows/image).
    The oracle re-decodes every byte from hex(), rebuilds the luminance
    histogram and replays the window arithmetic in SQL."""
    from ..operators.images import hist_equalize_stats

    imgs = _synth_images(spark, sf_dir).filter(
        (F.col("fmt") == "raw")
        & (F.substring("image_id", 4, 9).cast("long") % 32 == 0)
    )
    return hist_equalize_stats(imgs)


O_HIST_EQ = f"""
WITH v AS (
  SELECT image_id, w, h, hex(bytes) AS hx, octet_length(bytes) AS len
  FROM read_parquet('{SYNTH_SF001_IMAGES}')
  WHERE fmt = 'raw' AND CAST(substr(image_id, 4, 9) AS BIGINT) % 32 = 0
),
series AS (SELECT i FROM generate_series(0, 3100) s(i)),
b AS (
  SELECT image_id, i,
         (strpos('0123456789ABCDEF', substr(hx, 2*i + 1, 1)) - 1) * 16
       + (strpos('0123456789ABCDEF', substr(hx, 2*i + 2, 1)) - 1) AS bv
  FROM v JOIN series ON i < len
),
lum AS (
  SELECT image_id, (i - 9) // 3 AS p,
         CAST((2126 * SUM(CASE WHEN (i - 9) % 3 = 0 THEN bv ELSE 0 END)
             + 7152 * SUM(CASE WHEN (i - 9) % 3 = 1 THEN bv ELSE 0 END)
             +  722 * SUM(CASE WHEN (i - 9) % 3 = 2 THEN bv ELSE 0 END))
              // 10000 AS BIGINT) AS level
  FROM b WHERE i >= 9 GROUP BY 1, 2
),
hist AS (
  SELECT image_id, level, CAST(count(*) AS BIGINT) AS n_px
  FROM lum GROUP BY 1, 2
),
cum AS (
  SELECT image_id, level, n_px,
         SUM(n_px) OVER (PARTITION BY image_id ORDER BY level) AS cdf,
         SUM(n_px) OVER (PARTITION BY image_id) AS tot
  FROM hist
),
cm AS (
  SELECT *,
         MIN(CASE WHEN cdf = n_px THEN n_px END)
           OVER (PARTITION BY image_id) AS cmin
  FROM cum
)
SELECT image_id, level, n_px, CAST(cdf AS BIGINT) AS cdf,
       CAST(CASE WHEN tot > cmin THEN ((cdf - cmin) * 255) // (tot - cmin)
                 ELSE 0 END AS BIGINT) AS eq_level
FROM cm
"""


REGISTRY.update({"hist_eq": (q_hist_eq, O_HIST_EQ)})


def q_edge_stats(spark, sf_dir):
    """Per-image Sobel gradient stats (operators/images.py
    ``edge_stats``) over a 1-in-32 sample of the RAW subset: exact int64
    sums of |Sobel_x| / |Sobel_y| over interior luminance pixels plus an
    edge-pixel count at |gx|+|gy| >= 160. The oracle re-decodes bytes in
    SQL and computes both convolutions in separable form (vertical
    smooth/diff then horizontal diff/smooth) as two window passes — a
    genuinely different formulation from the kernel's slice sums."""
    from ..operators.images import edge_stats

    imgs = _synth_images(spark, sf_dir).filter(
        (F.col("fmt") == "raw")
        & (F.substring("image_id", 4, 9).cast("long") % 32 == 0)
    )
    return edge_stats(imgs, threshold=160)


O_EDGE_STATS = f"""
WITH v AS (
  SELECT image_id, w, h, hex(bytes) AS hx, octet_length(bytes) AS len
  FROM read_parquet('{SYNTH_SF001_IMAGES}')
  WHERE fmt = 'raw' AND CAST(substr(image_id, 4, 9) AS BIGINT) % 32 = 0
),
series AS (SELECT i FROM generate_series(0, 3100) s(i)),
b AS (
  SELECT image_id, w, h, i,
         (strpos('0123456789ABCDEF', substr(hx, 2*i + 1, 1)) - 1) * 16
       + (strpos('0123456789ABCDEF', substr(hx, 2*i + 2, 1)) - 1) AS bv
  FROM v JOIN series ON i < len
),
lum AS (
  SELECT image_id, w, h, (i - 9) // 3 // w AS r, (i - 9) // 3 % w AS c,
         CAST((2126 * SUM(CASE WHEN (i - 9) % 3 = 0 THEN bv ELSE 0 END)
             + 7152 * SUM(CASE WHEN (i - 9) % 3 = 1 THEN bv ELSE 0 END)
             +  722 * SUM(CASE WHEN (i - 9) % 3 = 2 THEN bv ELSE 0 END))
              // 10000 AS BIGINT) AS l
  FROM b WHERE i >= 9 GROUP BY 1, 2, 3, 4, 5
),
sm AS (
  SELECT image_id, w, h, r, c,
         lag(l) OVER win_c + 2 * l + lead(l) OVER win_c AS vs,
         lead(l) OVER win_c - lag(l) OVER win_c AS vd
  FROM lum
  WINDOW win_c AS (PARTITION BY image_id, c ORDER BY r)
),
g AS (
  SELECT image_id, r, c, w, h,
         lead(vs) OVER win_r - lag(vs) OVER win_r AS gx,
         lag(vd) OVER win_r + 2 * vd + lead(vd) OVER win_r AS gy
  FROM sm
  WINDOW win_r AS (PARTITION BY image_id, r ORDER BY c)
),
gi AS (
  SELECT * FROM g
  WHERE r >= 1 AND r < h - 1 AND c >= 1 AND c < w - 1
)
SELECT image_id, CAST(count(*) AS BIGINT) AS n_interior,
       CAST(SUM(abs(gx)) AS BIGINT) AS sum_gx,
       CAST(SUM(abs(gy)) AS BIGINT) AS sum_gy,
       CAST(SUM(CASE WHEN abs(gx) + abs(gy) >= 160 THEN 1 ELSE 0 END)
            AS BIGINT) AS edge_px
FROM gi GROUP BY 1
"""


REGISTRY.update({"edge_stats": (q_edge_stats, O_EDGE_STATS)})


HILBERT_RES = 8


def q_hilbert_encode(spark, sf_dir):
    """Hilbert-curve linearization of the point grid at res 8
    (operators/spatial.py ``with_hilbert``): the classic xy2d bit-fold
    unrolled into 8 levels of dialect-shared CASE/modulo arithmetic —
    the locality key that beats Morton for range-clustered snapshot
    pruning. The oracle chains one CTE per level running the IDENTICAL
    expression text."""
    from ..operators.spatial import with_hilbert

    n = 1 << HILBERT_RES

    def gidx(col, off, span):
        g = F.floor((F.col(col) + F.lit(off)) / F.lit(span) * F.lit(float(n)))
        return F.least(F.greatest(g, F.lit(0)), F.lit(n - 1)).cast("long")

    pts = geo_points(spark, sf_dir).select(
        "point_id",
        gidx("lon", 180.0, 360.0).alias("ix"),
        gidx("lat", 90.0, 180.0).alias("iy"),
    )
    return with_hilbert(pts, HILBERT_RES).select("point_id", "ix", "iy", "hkey")


def _o_hilbert(res: int) -> str:
    from ..functions.cells import hilbert_level_exprs

    n = 1 << res
    ctes = [
        f"base AS (SELECT point_id,\n"
        f"  CAST(least(greatest(floor((lon + 180.0) / 360.0 * {n}.0), 0), {n - 1}) AS BIGINT) AS ix,\n"
        f"  CAST(least(greatest(floor((lat + 90.0) / 180.0 * {n}.0), 0), {n - 1}) AS BIGINT) AS iy\n"
        f"  FROM pts)",
        "h0 AS (SELECT point_id, ix, iy, ix AS x, iy AS y, 0 AS d FROM base)",
    ]
    lvl = 0
    s = n >> 1
    while s > 0:
        dinc, xn, yn = hilbert_level_exprs(s, n, "x", "y")
        ctes.append(
            f"h{lvl + 1} AS (SELECT point_id, ix, iy, {xn} AS x, {yn} AS y, "
            f"d + {dinc} AS d FROM h{lvl})"
        )
        lvl += 1
        s >>= 1
    return (
        f"WITH {PTS_CTE},\n" + ",\n".join(ctes)
        + f"\nSELECT point_id, ix, iy, CAST(d AS BIGINT) AS hkey FROM h{lvl}"
    )


O_HILBERT_ENCODE = _o_hilbert(HILBERT_RES)


REGISTRY.update({"hilbert_encode": (q_hilbert_encode, O_HILBERT_ENCODE)})


def q_od_flows(spark, sf_dir):
    """Origin-destination tile flow matrix at res 8 over the events
    stream (operators/spatial.py ``od_flows``): consecutive per-user
    positions become tile transitions, aggregated to trip + distinct-user
    counts per (from, to) pair. The oracle replays the lag window and the
    distinct count in SQL."""
    from ..operators.spatial import od_flows

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev.createOrReplaceTempView("__od_events")
    t = spark.sql(
        f"SELECT user_id, ts, event_id, {TRAJ_LAT_SQL} AS lat, "
        f"{TRAJ_LON_SQL} AS lon FROM __od_events"
    )
    return od_flows(t, "user_id", "ts", res=8, order_tiebreak="event_id")


O_OD_FLOWS = f"""
WITH t AS (
  SELECT user_id, ts, event_id,
         {TRAJ_LAT_SQL} AS lat, {TRAJ_LON_SQL} AS lon
  FROM events
),
g AS (
  SELECT user_id, {_tile_sql(8)} AS tile,
         lag({_tile_sql(8)}) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
         ) AS prev
  FROM t
)
SELECT prev AS from_tile, tile AS to_tile,
       CAST(count(*) AS BIGINT) AS n_trips,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_entities
FROM g WHERE prev IS NOT NULL
GROUP BY 1, 2
"""


REGISTRY.update({"od_flows": (q_od_flows, O_OD_FLOWS)})


def q_block_sums(spark, sf_dir):
    """Integral-image rectangle sums (operators/images.py
    ``block_sums``) over a 1-in-32 sample of the RAW subset: the engine
    builds one SAT per image and answers 4 hash-derived rectangles in
    O(1) each; the oracle re-decodes the bytes and sums every pixel of
    every rectangle naively — two different algorithms that must land on
    identical int64 sums."""
    from ..operators.images import block_sums

    imgs = _synth_images(spark, sf_dir).filter(
        (F.col("fmt") == "raw")
        & (F.substring("image_id", 4, 9).cast("long") % 32 == 0)
    )
    return block_sums(imgs, queries_per_image=4)


O_BLOCK_SUMS = f"""
WITH v AS (
  SELECT image_id, CAST(substr(image_id, 4, 9) AS BIGINT) AS vid,
         w, h, hex(bytes) AS hx, octet_length(bytes) AS len
  FROM read_parquet('{SYNTH_SF001_IMAGES}')
  WHERE fmt = 'raw' AND CAST(substr(image_id, 4, 9) AS BIGINT) % 32 = 0
),
series AS (SELECT i FROM generate_series(0, 3100) s(i)),
b AS (
  SELECT image_id, w, h, i,
         (strpos('0123456789ABCDEF', substr(hx, 2*i + 1, 1)) - 1) * 16
       + (strpos('0123456789ABCDEF', substr(hx, 2*i + 2, 1)) - 1) AS bv
  FROM v JOIN series ON i < len
),
lum AS (
  SELECT image_id, (i - 9) // 3 // w AS r, (i - 9) // 3 % w AS c,
         CAST((2126 * SUM(CASE WHEN (i - 9) % 3 = 0 THEN bv ELSE 0 END)
             + 7152 * SUM(CASE WHEN (i - 9) % 3 = 1 THEN bv ELSE 0 END)
             +  722 * SUM(CASE WHEN (i - 9) % 3 = 2 THEN bv ELSE 0 END))
              // 10000 AS BIGINT) AS l
  FROM b WHERE i >= 9 GROUP BY 1, 2, 3
),
qs AS (
  SELECT image_id, vid, w, h, q
  FROM v, generate_series(0, 3) g(q)
),
rect AS (
  SELECT image_id, q,
         least((vid * 40503 + q * 2654435761) % w,
               (vid * 69069 + q * 1013904223) % w) AS x0,
         least((vid * 40503 + q * 2654435761) % h,
               (vid * 69069 + q * 1013904223) % h) AS y0,
         greatest((vid * 40503 + q * 2654435761) % w,
                  (vid * 69069 + q * 1013904223) % w) AS x1,
         greatest((vid * 40503 + q * 2654435761) % h,
                  (vid * 69069 + q * 1013904223) % h) AS y1
  FROM qs
)
SELECT r0.image_id, r0.q, r0.x0, r0.y0, r0.x1, r0.y1,
       CAST(SUM(p.l) AS BIGINT) AS px_sum
FROM rect r0
JOIN lum p ON p.image_id = r0.image_id
  AND p.r >= r0.y0 AND p.r <= r0.y1 AND p.c >= r0.x0 AND p.c <= r0.x1
GROUP BY 1, 2, 3, 4, 5, 6
"""


REGISTRY.update({"block_sums": (q_block_sums, O_BLOCK_SUMS)})


def q_geofence(spark, sf_dir):
    """Geofence enter/exit transitions over the events trajectory stream
    (operators/spatial.py ``geofence_transitions``): PIP zone assignment
    (unique min-polygon_id ownership, NULL outside) + per-user lag
    window, emitting only zone CHANGES. The oracle assigns zones with
    the half-open box/hypotenuse predicates and replays the window."""
    from ..operators.spatial import geofence_transitions

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev.createOrReplaceTempView("__gf_events")
    t = spark.sql(
        f"SELECT user_id, ts, event_id, {TRAJ_LAT_SQL} AS lat, "
        f"{TRAJ_LON_SQL} AS lon FROM __gf_events"
    )
    return geofence_transitions(
        t, geo_polygons_df(spark), "user_id", "ts", res=8,
        order_tiebreak="event_id",
    ).withColumnRenamed("entity", "user_id").withColumnRenamed("id", "event_id")


O_GEOFENCE = f"""
WITH t AS (
  SELECT user_id, ts, event_id,
         {TRAJ_LAT_SQL} AS lat, {TRAJ_LON_SQL} AS lon
  FROM events
),
z AS (
  SELECT user_id, ts, event_id,
         CASE {' '.join(f"WHEN {pred} THEN '{pid}'" for pid, pred in sorted(POLY_PRED_SQL.items()))}
         END AS zone
  FROM t
),
wnd AS (
  SELECT user_id, ts, event_id, zone,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
         lag(zone) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM z
)
SELECT user_id, ts, event_id, prev AS from_zone, zone AS to_zone
FROM wnd
WHERE (rn = 1 AND zone IS NOT NULL) OR (rn > 1 AND zone IS DISTINCT FROM prev)
"""


REGISTRY.update({"geofence": (q_geofence, O_GEOFENCE)})


def q_distinctive_terms(spark, sf_dir):
    """Top-3 distinctive terms per document by integer tf-idf
    (operators/textstats.py ``distinctive_terms``): score =
    tf * 1e6 // df, ties by term — exact integer ranking, no float
    idf. The oracle unnests the same regex tokens and replays the
    ranking in SQL."""
    from ..operators.textstats import distinctive_terms

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return distinctive_terms(docs, k=3)


O_DISTINCTIVE_TERMS = """
WITH terms AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS term
  FROM documents
),
tf AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
  FROM terms GROUP BY 1, 2
),
dfreq AS (
  SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1
),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
         CAST(tf.tf * 1000000 // dfreq.df AS BIGINT) AS score,
         row_number() OVER (
           PARTITION BY tf.doc_id ORDER BY tf.tf * 1000000 // dfreq.df DESC,
           tf.term ASC
         ) AS rnk
  FROM tf JOIN dfreq USING (term)
)
SELECT doc_id, CAST(rnk AS INT) AS rnk, term, tf, df, score
FROM scored WHERE rnk <= 3
"""


REGISTRY.update(
    {"distinctive_terms": (q_distinctive_terms, O_DISTINCTIVE_TERMS)}
)


def q_idw(spark, sf_dir):
    """IDW interpolation (operators/spatial.py ``idw_interpolate``) at a
    1-in-3 sample of feature locations from point values (point_id %
    1000) within 0.3 deg: integer 1/d^2-surrogate weights, int64
    numerator/denominator sums, one final float division. The oracle
    replays the cross join + integer weight arithmetic."""
    from ..operators.spatial import idw_interpolate

    pts = geo_points(spark, sf_dir).withColumn(
        "val", F.expr("point_id % 1000")
    )
    tgt = geo_features(spark, sf_dir).filter(F.col("id") % 3 == 0)
    return idw_interpolate(pts, tgt, radius=0.3, value_col="val")


O_IDW = f"""
WITH {PTS_CTE}, {FEATS_CTE},
tgt AS (SELECT id, lat, lon FROM feats WHERE id % 3 = 0),
pairs AS (
  SELECT t.id AS target_id, q.point_id % 1000 AS v,
         CAST({10**12} AS BIGINT)
           // (1 + CAST(floor(((q.lat - t.lat) * (q.lat - t.lat)
                + (q.lon - t.lon) * (q.lon - t.lon)) * 1000000000.0)
               AS BIGINT)) AS w
  FROM pts q JOIN tgt t
    ON (q.lat - t.lat) * (q.lat - t.lat) + (q.lon - t.lon) * (q.lon - t.lon)
       <= 0.3 * 0.3
),
agg AS (
  SELECT target_id, CAST(count(*) AS BIGINT) AS n_src,
         CAST(SUM(w * v) AS BIGINT) AS num, CAST(SUM(w) AS BIGINT) AS den
  FROM pairs GROUP BY 1
)
SELECT t.id AS target_id, COALESCE(a.n_src, 0) AS n_src, a.num, a.den,
       CAST(a.num AS DOUBLE) / CAST(a.den AS DOUBLE) AS est
FROM tgt t LEFT JOIN agg a ON a.target_id = t.id
"""


REGISTRY.update({"idw": (q_idw, O_IDW)})


def q_vocab_growth(spark, sf_dir):
    """Heaps'-law vocabulary growth over 10 corpus prefixes
    (operators/textstats.py ``vocab_growth``): the engine maps each term
    to its FIRST containing doc (one scan for all steps); the oracle
    naively re-counts distinct terms per prefix — different algorithms,
    identical integers."""
    from ..operators.textstats import vocab_growth

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return vocab_growth(docs, steps=10)


O_VOCAB_GROWTH = """
WITH ids AS (
  SELECT doc_id, row_number() OVER (ORDER BY doc_id) AS rn FROM documents
),
n AS (SELECT count(*) AS nt FROM documents),
bounds AS (
  SELECT CAST(k AS INT) AS step, (nt * k) // 10 AS n_docs
  FROM n, generate_series(1, 10) g(k)
  WHERE (nt * k) // 10 > 0
),
bids AS (
  SELECT b.step, b.n_docs, i.doc_id AS boundary_id
  FROM bounds b JOIN ids i ON i.rn = b.n_docs
),
terms AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS term
  FROM documents
)
SELECT b.step, CAST(b.n_docs AS BIGINT) AS n_docs, b.boundary_id,
       CAST((SELECT count(*) FROM terms t WHERE t.doc_id <= b.boundary_id)
            AS BIGINT) AS total_tokens,
       CAST((SELECT count(DISTINCT t.term) FROM terms t
             WHERE t.doc_id <= b.boundary_id) AS BIGINT) AS vocab
FROM bids b
"""


REGISTRY.update({"vocab_growth": (q_vocab_growth, O_VOCAB_GROWTH)})


def q_images_dedup(spark, sf_dir):
    """End-to-end visual dedup: tile-blocked pHash banding (Hamming <=
    6) -> connected components (distributed min-label propagation with
    pointer jumping) -> canonical representative = min image id; emits
    (image_id, cluster_id, keep) for every image in a near-dup cluster.
    The oracle recomputes pairs quadratically and closes them with a
    recursive CTE."""
    from ..operators.dedup import dedup_clusters, hamming_band_pairs
    from ..operators.tiling import assign_tiles

    img = assign_tiles(
        _synth_images(spark, sf_dir).select("image_id", "phash", "lat", "lon"),
        res=5,
    ).select("image_id", "phash", "tile")
    pairs = hamming_band_pairs(
        img, id_col="image_id", hash_col="phash", max_hamming=6,
        block_cols=("tile",),
    )
    cl = dedup_clusters(pairs, id_a="id_a", id_b="id_b")
    return cl.select(
        F.col("doc_id").alias("image_id"),
        "cluster_id",
        (F.col("doc_id") == F.col("cluster_id")).cast("int").alias("keep"),
    )


O_IMAGES_DEDUP = f"""
WITH RECURSIVE img AS (
  SELECT image_id, phash, {_tile_sql(5)} AS tile
  FROM read_parquet('{SYNTH_SF001_IMAGES}')
),
p AS (
  SELECT a.image_id AS a, b.image_id AS b
  FROM img a JOIN img b USING (tile)
  WHERE a.image_id < b.image_id AND bit_count(xor(a.phash, b.phash)) <= 6
),
e AS (SELECT a, b FROM p UNION SELECT b, a FROM p),
r(id, x) AS (
  SELECT DISTINCT a, a FROM e
  UNION
  SELECT r.id, e.b FROM r JOIN e ON e.a = r.x
)
SELECT id AS image_id, min(x) AS cluster_id,
       CAST(id = min(x) AS INT) AS keep
FROM r GROUP BY id
"""


REGISTRY.update({"images_dedup": (q_images_dedup, O_IMAGES_DEDUP)})


def q_stream_od(spark, sf_dir):
    """Streaming-vs-batch parity gate for the stateful OD extractor
    (streaming/microbatch.py ``stream_od_transitions``): the trajectory
    fixture is staged as 3 TIME-ORDERED files (the ordered-ingestion
    contract; mtime fixes trigger order), fed one file per micro-batch;
    the rolled-up flows must equal the batch ``od_flows`` oracle
    exactly."""
    from ..streaming.microbatch import run_od_stream_once

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev.createOrReplaceTempView("__sod_events")
    t = spark.sql(
        f"SELECT user_id, ts, event_id, {TRAJ_LAT_SQL} AS lat, "
        f"{TRAJ_LON_SQL} AS lon FROM __sod_events"
    )
    return _run_staged_stream(
        _thirds(_stream_pdf(t, "ts", "event_id")),
        lambda src, ckpt: run_od_stream_once(spark, src, ckpt, res=8),
    )


REGISTRY.update({"stream_od": (q_stream_od, O_OD_FLOWS)})


def q_stream_od_late(spark, sf_dir):
    """Bounded-lateness streaming OD parity gate
    (streaming/microbatch.py ``stream_od_transitions_late``): the
    trajectory fixture is staged as 3 files INTERLEAVED BY RANK — every
    micro-batch spans the whole time range, maximal cross-batch disorder
    — plus a final watermark-punctuation file (one NULL-position row per
    user past the span). The watermark-tolerant kernel buffers events in
    state until the per-entity watermark passes them, emits in
    event-time order, and the rolled-up flows must STILL equal the batch
    ``od_flows`` oracle exactly. The ordered-ingestion kernel
    (stream_od) raises on this staging; this one absorbs it."""
    import numpy as _np
    import pandas as _pd

    from ..streaming.microbatch import run_od_late_stream_once

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev.createOrReplaceTempView("__sodl_events")
    t = spark.sql(
        f"SELECT user_id, ts, event_id, {TRAJ_LAT_SQL} AS lat, "
        f"{TRAJ_LON_SQL} AS lon FROM __sodl_events"
    )
    pdf = _stream_pdf(t, "ts", "event_id")
    span_s = int(
        (pdf["ts"].max() - pdf["ts"].min()).total_seconds()
    ) + 1
    flush = _pd.DataFrame(
        {
            "user_id": pdf["user_id"].unique(),
            "ts": pdf["ts"].max() + _pd.Timedelta(seconds=2 * span_s),
            "event_id": -1,
            "lat": _np.nan,
            "lon": _np.nan,
        }
    )
    flush["ts"] = flush["ts"].astype("datetime64[us]")
    return _run_staged_stream(
        # the punctuation flush is the fourth and last file (mtime 4000)
        _thirds(pdf, interleaved=True) + [flush],
        lambda src, ckpt: run_od_late_stream_once(
            spark, src, ckpt, res=8, lateness_s=span_s
        ),
    )


REGISTRY.update({"stream_od_late": (q_stream_od_late, O_OD_FLOWS)})


def q_ngram_counts(spark, sf_dir):
    """Corpus bigram LM counts (operators/textstats.py ``ngram_counts``):
    adjacent lowercase-alpha token pairs, corpus-wide counts, pruned at
    n >= 3. Engine builds pairs with an in-row array transform (codegen);
    the oracle unrolls them with a 1-based list_extract series join."""
    from ..operators.textstats import ngram_counts

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return ngram_counts(docs, min_count=3)


O_NGRAM_COUNTS = """
WITH t AS (
  SELECT regexp_extract_all(lower(text), '[a-z]+') AS toks FROM documents
),
b AS (
  SELECT list_extract(toks, i) || ' ' || list_extract(toks, i + 1) AS bigram
  FROM t JOIN generate_series(1, 100000) g(i) ON i <= len(toks) - 1
)
SELECT bigram, CAST(count(*) AS BIGINT) AS n
FROM b GROUP BY 1 HAVING count(*) >= 3
"""


REGISTRY.update({"ngram_counts": (q_ngram_counts, O_NGRAM_COUNTS)})


def q_direction_rose(spark, sf_dir):
    """Per-user movement-direction octant histogram
    (operators/spatial.py ``direction_rose``): consecutive displacements
    coded by three exact sign/magnitude comparisons — no atan2. The
    oracle replays the lag window and the CASE coding."""
    from ..operators.spatial import direction_rose

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev.createOrReplaceTempView("__rose_events")
    t = spark.sql(
        f"SELECT user_id, ts, event_id, {TRAJ_LAT_SQL} AS lat, "
        f"{TRAJ_LON_SQL} AS lon FROM __rose_events"
    )
    return direction_rose(
        t, "user_id", "ts", order_tiebreak="event_id"
    ).withColumnRenamed("entity", "user_id")


O_DIRECTION_ROSE = f"""
WITH t AS (
  SELECT user_id, ts, event_id,
         {TRAJ_LAT_SQL} AS lat, {TRAJ_LON_SQL} AS lon
  FROM events
),
d AS (
  SELECT user_id,
         lat - lag(lat) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS dlat,
         lon - lag(lon) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS dlon
  FROM t
)
SELECT user_id,
       CAST((CASE WHEN dlat >= 0 THEN 4 ELSE 0 END)
          + (CASE WHEN dlon >= 0 THEN 2 ELSE 0 END)
          + (CASE WHEN abs(dlat) > abs(dlon) THEN 1 ELSE 0 END) AS INT)
         AS octant,
       CAST(count(*) AS BIGINT) AS n_moves
FROM d WHERE dlat IS NOT NULL
GROUP BY 1, 2
"""


REGISTRY.update({"direction_rose": (q_direction_rose, O_DIRECTION_ROSE)})


def q_blob_stats(spark, sf_dir):
    """Connected-component blob stats (operators/images.py
    ``blob_stats``) over a 1-in-32 sample of the RAW subset: luminance
    threshold 195, 4-connected components via masked min-label sweeps;
    the oracle re-decodes the bytes and closes the same components with
    a recursive transitive-closure CTE."""
    from ..operators.images import blob_stats

    imgs = _synth_images(spark, sf_dir).filter(
        (F.col("fmt") == "raw")
        & (F.substring("image_id", 4, 9).cast("long") % 32 == 0)
    )
    return blob_stats(imgs, threshold=195)


O_BLOB_STATS = f"""
WITH RECURSIVE v AS (
  SELECT image_id, w, h, hex(bytes) AS hx, octet_length(bytes) AS len
  FROM read_parquet('{SYNTH_SF001_IMAGES}')
  WHERE fmt = 'raw' AND CAST(substr(image_id, 4, 9) AS BIGINT) % 32 = 0
),
series AS (SELECT i FROM generate_series(0, 3100) s(i)),
b AS (
  SELECT image_id, w, h, i,
         (strpos('0123456789ABCDEF', substr(hx, 2*i + 1, 1)) - 1) * 16
       + (strpos('0123456789ABCDEF', substr(hx, 2*i + 2, 1)) - 1) AS bv
  FROM v JOIN series ON i < len
),
lum AS (
  SELECT image_id, w, h, (i - 9) // 3 // w AS r, (i - 9) // 3 % w AS c,
         CAST((2126 * SUM(CASE WHEN (i - 9) % 3 = 0 THEN bv ELSE 0 END)
             + 7152 * SUM(CASE WHEN (i - 9) % 3 = 1 THEN bv ELSE 0 END)
             +  722 * SUM(CASE WHEN (i - 9) % 3 = 2 THEN bv ELSE 0 END))
              // 10000 AS BIGINT) AS l
  FROM b WHERE i >= 9 GROUP BY 1, 2, 3, 4, 5
),
fg AS (
  SELECT image_id, r * w + c AS pid, r, c FROM lum WHERE l >= 195
),
e AS (
  SELECT a.image_id, a.pid AS pa, b.pid AS pb
  FROM fg a JOIN fg b ON a.image_id = b.image_id
   AND ((a.r = b.r AND abs(a.c - b.c) = 1)
     OR (a.c = b.c AND abs(a.r - b.r) = 1))
),
r(image_id, id, x) AS (
  SELECT image_id, pid, pid FROM fg
  UNION
  SELECT r.image_id, r.id, e.pb
  FROM r JOIN e ON e.image_id = r.image_id AND e.pa = r.x
),
lbl AS (SELECT image_id, id, min(x) AS cl FROM r GROUP BY 1, 2),
blobs AS (SELECT image_id, cl, count(*) AS sz FROM lbl GROUP BY 1, 2)
SELECT image_id, CAST(SUM(sz) AS BIGINT) AS n_fg,
       CAST(count(*) AS BIGINT) AS n_blobs,
       CAST(max(sz) AS BIGINT) AS max_blob
FROM blobs GROUP BY 1
"""


REGISTRY.update({"blob_stats": (q_blob_stats, O_BLOB_STATS)})


def q_augment(spark, sf_dir):
    """Deterministic augmentation checksums (operators/images.py
    ``augment_checksums``) over a 1-in-32 sample of the RAW subset: 5
    ops per image (identity / hflip / vflip / rot180 / hash-derived
    crop), each summarized by the position-weighted checksum in the
    TRANSFORMED frame. The oracle replays every op as a coordinate
    transform over the byte CTE."""
    from ..operators.images import augment_checksums

    imgs = _synth_images(spark, sf_dir).filter(
        (F.col("fmt") == "raw")
        & (F.substring("image_id", 4, 9).cast("long") % 32 == 0)
    )
    return augment_checksums(imgs)


O_AUGMENT = f"""
WITH v AS (
  SELECT image_id, CAST(substr(image_id, 4, 9) AS BIGINT) AS vid,
         w, h, hex(bytes) AS hx, octet_length(bytes) AS len
  FROM read_parquet('{SYNTH_SF001_IMAGES}')
  WHERE fmt = 'raw' AND CAST(substr(image_id, 4, 9) AS BIGINT) % 32 = 0
),
series AS (SELECT i FROM generate_series(0, 3100) s(i)),
b AS (
  SELECT image_id, vid, w, h, i,
         (strpos('0123456789ABCDEF', substr(hx, 2*i + 1, 1)) - 1) * 16
       + (strpos('0123456789ABCDEF', substr(hx, 2*i + 2, 1)) - 1) AS bv
  FROM v JOIN series ON i < len
),
px AS (
  SELECT image_id, vid, w, h, (i - 9) // 3 // w AS r, (i - 9) // 3 % w AS c,
         (i - 9) % 3 AS ch, bv
  FROM b WHERE i >= 9
),
crop AS (
  SELECT image_id,
         least((vid * 40503) % w, (vid * 69069) % w) AS x0,
         greatest((vid * 40503) % w, (vid * 69069) % w) AS x1,
         least((vid * 40503) % h, (vid * 69069) % h) AS y0,
         greatest((vid * 40503) % h, (vid * 69069) % h) AS y1
  FROM v
)
SELECT image_id, 'identity' AS op, CAST(w * h AS BIGINT) AS n_px,
       CAST(SUM(bv * (3 * (r * w + c) + ch + 1)) AS BIGINT) AS chk
FROM px GROUP BY 1, 2, 3
UNION ALL
SELECT image_id, 'hflip', CAST(w * h AS BIGINT),
       CAST(SUM(bv * (3 * (r * w + (w - 1 - c)) + ch + 1)) AS BIGINT)
FROM px GROUP BY 1, 2, 3
UNION ALL
SELECT image_id, 'vflip', CAST(w * h AS BIGINT),
       CAST(SUM(bv * (3 * ((h - 1 - r) * w + c) + ch + 1)) AS BIGINT)
FROM px GROUP BY 1, 2, 3
UNION ALL
SELECT image_id, 'rot180', CAST(w * h AS BIGINT),
       CAST(SUM(bv * (3 * ((h - 1 - r) * w + (w - 1 - c)) + ch + 1)) AS BIGINT)
FROM px GROUP BY 1, 2, 3
UNION ALL
SELECT p.image_id, 'crop',
       CAST((cr.x1 - cr.x0 + 1) * (cr.y1 - cr.y0 + 1) AS BIGINT),
       CAST(SUM(bv * (3 * ((r - cr.y0) * (cr.x1 - cr.x0 + 1) + (c - cr.x0))
                      + ch + 1)) AS BIGINT)
FROM px p JOIN crop cr ON cr.image_id = p.image_id
WHERE r >= cr.y0 AND r <= cr.y1 AND c >= cr.x0 AND c <= cr.x1
GROUP BY 1, 2, 3
"""


REGISTRY.update({"augment": (q_augment, O_AUGMENT)})


def q_tile_activity(spark, sf_dir):
    """Space-time activity profile (operators/spatial.py
    ``tile_activity``): event + distinct-user counts per (res-6 tile,
    hour-of-day). One groupBy; the oracle replays the tile key and
    hour extraction."""
    from ..operators.spatial import tile_activity

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev.createOrReplaceTempView("__act_events")
    t = spark.sql(
        f"SELECT user_id, ts, {TRAJ_LAT_SQL} AS lat, "
        f"{TRAJ_LON_SQL} AS lon FROM __act_events"
    )
    return tile_activity(t, res=6)


O_TILE_ACTIVITY = f"""
WITH t AS (
  SELECT user_id, ts, {TRAJ_LAT_SQL} AS lat, {TRAJ_LON_SQL} AS lon
  FROM events
)
SELECT {_tile_sql(6)} AS tile, CAST(hour(ts) AS INT) AS hour,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_entities
FROM t GROUP BY 1, 2
"""


REGISTRY.update({"tile_activity": (q_tile_activity, O_TILE_ACTIVITY)})


def q_charset_stats(spark, sf_dir):
    """Charset hygiene metrics (operators/textstats.py
    ``charset_stats``): exact printable-ASCII / alpha / digit / space
    counts and the integer ascii_milli ratio per document."""
    from ..operators.textstats import charset_stats

    return charset_stats(spark.read.parquet(f"{sf_dir}/documents.parquet"))


O_CHARSET_STATS = """
SELECT doc_id,
       CAST(length(text) AS INT) AS n_chars,
       CAST(length(text) - length(regexp_replace(text, '[ -~]', '', 'g'))
            AS INT) AS n_ascii,
       CAST(length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g'))
            AS INT) AS n_alpha,
       CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
            AS INT) AS n_digit,
       CAST(length(text) - length(regexp_replace(text, '[ ]', '', 'g'))
            AS INT) AS n_space,
       CAST(length(regexp_replace(text, '[ -~]', '', 'g')) AS INT)
         AS n_nonascii,
       CAST(CASE WHEN length(text) > 0 THEN
         1000 * (length(text) - length(regexp_replace(text, '[ -~]', '', 'g')))
           // length(text)
       ELSE 0 END AS INT) AS ascii_milli
FROM documents
"""


REGISTRY.update({"charset_stats": (q_charset_stats, O_CHARSET_STATS)})


def q_stream_geofence(spark, sf_dir):
    """Streaming-vs-batch parity gate for the stateful geofence detector
    (streaming/microbatch.py ``stream_geofence_transitions``): 3
    time-ordered staged files, per-entity zone state across batches, the
    same ray-cast kernel as the batch PIP join; the emitted transition
    log must equal the batch geofence oracle exactly."""
    import numpy as _np

    from ..streaming.microbatch import run_geofence_stream_once

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev.createOrReplaceTempView("__sgf_events")
    t = spark.sql(
        f"SELECT user_id, ts, event_id, {TRAJ_LAT_SQL} AS lat, "
        f"{TRAJ_LON_SQL} AS lon FROM __sgf_events"
    )
    rings = {pid: _np.asarray(ring, dtype=float) for pid, ring in GEO_POLYGONS}
    return _run_staged_stream(
        _thirds(_stream_pdf(t, "ts", "event_id")),
        lambda src, ckpt: run_geofence_stream_once(spark, src, ckpt, rings),
    )


REGISTRY.update({"stream_geofence": (q_stream_geofence, O_GEOFENCE)})


QK_RES = 8


def q_quadkey(spark, sf_dir):
    """Bing quadkey string encode at res 8 (functions/cells.py
    ``quadkey_col``): prefix-match containment + lexicographic Z-order,
    pure concat/bit codegen; the oracle spells identical digit math."""
    from ..functions.cells import quadkey_col

    pts = geo_points(spark, sf_dir)
    return pts.select(
        "point_id", quadkey_col(F.col("lat"), F.col("lon"), QK_RES).alias("quadkey")
    )


def _o_quadkey(res: int) -> str:
    n = 1 << res
    digits = " || ".join(
        f"CAST(((ix >> {res - 1 - k}) & 1) + 2 * ((iy >> {res - 1 - k}) & 1) "
        f"AS VARCHAR)"
        for k in range(res)
    )
    return f"""
WITH {PTS_CTE},
g AS (
  SELECT point_id,
         CAST(least(greatest(floor((lon + 180.0) / 360.0 * {n}.0), 0), {n - 1}) AS BIGINT) AS ix,
         CAST(least(greatest(floor((lat + 90.0) / 180.0 * {n}.0), 0), {n - 1}) AS BIGINT) AS iy
  FROM pts
)
SELECT point_id, {digits} AS quadkey FROM g
"""


O_QUADKEY = _o_quadkey(QK_RES)


def q_source_dup_profile(spark, sf_dir):
    """Per-source duplication profile over documents: doc count, distinct
    text count (md5 canonical), and the integer dup-rate
    ``1000 * (n - distinct) // n`` — the per-provenance quality summary a
    corpus report leads with."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(F.md5(F.encode("text", "UTF-8"))).alias("n_distinct"),
    ).select(
        "source", "n_docs", "n_distinct",
        F.expr("1000 * (n_docs - n_distinct) div n_docs").alias("dup_milli"),
    )


O_SOURCE_DUP = """
WITH a AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_distinct
  FROM documents GROUP BY 1
)
SELECT source, n_docs, n_distinct,
       CAST(1000 * (n_docs - n_distinct) // n_docs AS BIGINT) AS dup_milli
FROM a
"""


REGISTRY.update(
    {
        "quadkey": (q_quadkey, O_QUADKEY),
        "source_dup_profile": (q_source_dup_profile, O_SOURCE_DUP),
    }
)


def q_raster_polygonize(spark, sf_dir):
    """Raster -> vector polygonization (operators/spatial.py
    ``raster_polygonize``): connected regions of occupied res-10 tiles
    (>= 3 points), labeled by smallest member tile. The oracle closes
    the same adjacency with a recursive CTE."""
    from ..operators.spatial import raster_polygonize

    return raster_polygonize(geo_points(spark, sf_dir), res=10, min_count=3)


_PN = 1 << 10
O_RASTER_POLYGONIZE = f"""
WITH RECURSIVE {PTS_CTE},
occ AS (
  SELECT {_tile_sql(10)} AS tile, CAST(count(*) AS BIGINT) AS n_pts
  FROM pts GROUP BY 1 HAVING count(*) >= 3
),
e0 AS (
  SELECT a.tile AS a, b.tile AS b FROM occ a JOIN occ b
    ON (b.tile = a.tile + 1 AND a.tile % {_PN} < {_PN - 1})
    OR b.tile = a.tile + {_PN}
),
e AS (SELECT a, b FROM e0 UNION SELECT b, a FROM e0),
r(id, x) AS (
  SELECT tile, tile FROM occ
  UNION
  SELECT r.id, e.b FROM r JOIN e ON e.a = r.x
),
lbl AS (SELECT id, min(x) AS region_id FROM r GROUP BY id)
SELECT lbl.region_id, CAST(count(*) AS BIGINT) AS n_tiles,
       CAST(SUM(occ.n_pts) AS BIGINT) AS n_pts
FROM occ JOIN lbl ON lbl.id = occ.tile
GROUP BY 1
"""


REGISTRY.update(
    {"raster_polygonize": (q_raster_polygonize, O_RASTER_POLYGONIZE)}
)


def q_incremental_rollup(spark, sf_dir):
    """Incremental materialized-rollup maintenance (operators/tiling.py
    ``merge_tile_histogram``): base histogram over 3/4 of the trajectory
    points, then a signed delta (inserts = the remaining quarter,
    deletes = the event_id % 8 == 0 subset of the base) merged WITHOUT
    re-scanning the base facts. The oracle recomputes the final
    histogram from scratch over the equivalent point set — incremental
    merge must equal full recompute exactly."""
    from ..operators.tiling import assign_tiles, cell_histogram, merge_tile_histogram

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev.createOrReplaceTempView("__inc_events")
    t = spark.sql(
        f"SELECT event_id, {TRAJ_LAT_SQL} AS lat, {TRAJ_LON_SQL} AS lon "
        "FROM __inc_events"
    )
    base_pts = t.filter(F.col("event_id") % 4 != 3)
    base = cell_histogram(assign_tiles(base_pts, res=8), "tile")
    inserts = t.filter(F.col("event_id") % 4 == 3).withColumn("sign", F.lit(1))
    deletes = base_pts.filter(F.col("event_id") % 8 == 0).withColumn(
        "sign", F.lit(-1)
    )
    return merge_tile_histogram(
        base, inserts.unionByName(deletes), res=8
    )


O_INCREMENTAL_ROLLUP = f"""
WITH t AS (
  SELECT event_id, {TRAJ_LAT_SQL} AS lat, {TRAJ_LON_SQL} AS lon
  FROM events
),
final_set AS (
  SELECT * FROM t
  WHERE event_id % 4 = 3 OR (event_id % 4 != 3 AND event_id % 8 != 0)
)
SELECT {_tile_sql(8)} AS tile, CAST(count(*) AS BIGINT) AS n_rows
FROM final_set GROUP BY 1
"""


REGISTRY.update(
    {"incremental_rollup": (q_incremental_rollup, O_INCREMENTAL_ROLLUP)}
)


def q_zone_visits(spark, sf_dir):
    """Zone visit intervals (operators/spatial.py ``zone_visits``):
    consecutive geofence transitions bracket each in-zone dwell; open
    visits keep a NULL exit. Oracle = the geofence window CTE plus one
    lead()."""
    from ..operators.spatial import zone_visits

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev.createOrReplaceTempView("__zv_events")
    t = spark.sql(
        f"SELECT user_id, ts, event_id, {TRAJ_LAT_SQL} AS lat, "
        f"{TRAJ_LON_SQL} AS lon FROM __zv_events"
    )
    return zone_visits(
        t, geo_polygons_df(spark), "user_id", "ts", res=8,
        order_tiebreak="event_id",
    ).withColumnRenamed("entity", "user_id")


O_ZONE_VISITS = f"""
WITH t AS (
  SELECT user_id, ts, event_id,
         {TRAJ_LAT_SQL} AS lat, {TRAJ_LON_SQL} AS lon
  FROM events
),
z AS (
  SELECT user_id, ts, event_id,
         CASE {' '.join(f"WHEN {pred} THEN '{pid}'" for pid, pred in sorted(POLY_PRED_SQL.items()))}
         END AS zone
  FROM t
),
wnd AS (
  SELECT user_id, ts, event_id, zone,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
         lag(zone) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM z
),
tr AS (
  SELECT user_id, ts, event_id, zone
  FROM wnd
  WHERE (rn = 1 AND zone IS NOT NULL) OR (rn > 1 AND zone IS DISTINCT FROM prev)
),
vis AS (
  SELECT user_id, zone, ts AS enter_ts,
         lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS exit_ts
  FROM tr
)
SELECT user_id, zone, enter_ts, exit_ts FROM vis WHERE zone IS NOT NULL
"""


REGISTRY.update({"zone_visits": (q_zone_visits, O_ZONE_VISITS)})


def q_image_quality(spark, sf_dir):
    """Composite image-quality filter (operators/images.py
    ``image_quality``) over a 1-in-32 sample of the RAW subset, PLUS the
    adversarial quality fixtures (datagen ``synth_quality_images``):
    Sobel edge density, scale-free luminance variance
    (n*sum(l^2) - sum(l)^2), channel spread, and the keep decision — all
    exact int64. The oracle re-derives every signal from hex() bytes in
    SQL. The fixture union pins the Nyquist lesson inside the driver
    gate itself: the near-Nyquist 2-px texture (qlt000000000) must come
    back keep=1, the 1-px checkerboard (qlt000000001) edge_milli=0."""
    from ..datagen import ensure_quality_images
    from ..operators.images import image_quality

    imgs = _synth_images(spark, sf_dir).filter(
        (F.col("fmt") == "raw")
        & (F.substring("image_id", 4, 9).cast("long") % 32 == 0)
    )
    qimg = spark.read.parquet(ensure_quality_images("sf0.01"))
    return image_quality(imgs.unionByName(qimg))


from ..datagen import _QUALITY_VERSION as _QV

SYNTH_SF001_QUALITY = os.path.join(
    _DATA_ROOT, "synth_sf0.01", f"quality_images_v{_QV}.parquet"
)

O_IMAGE_QUALITY = f"""
WITH v AS (
  SELECT image_id, w, h, hex(bytes) AS hx, octet_length(bytes) AS len
  FROM read_parquet('{SYNTH_SF001_IMAGES}')
  WHERE fmt = 'raw' AND CAST(substr(image_id, 4, 9) AS BIGINT) % 32 = 0
  UNION ALL
  SELECT image_id, w, h, hex(bytes) AS hx, octet_length(bytes) AS len
  FROM read_parquet('{SYNTH_SF001_QUALITY}')
),
series AS (SELECT i FROM generate_series(0, 3100) s(i)),
b AS (
  SELECT image_id, w, h, i,
         (strpos('0123456789ABCDEF', substr(hx, 2*i + 1, 1)) - 1) * 16
       + (strpos('0123456789ABCDEF', substr(hx, 2*i + 2, 1)) - 1) AS bv
  FROM v JOIN series ON i < len
),
ch AS (
  SELECT image_id, w, h, (i - 9) // 3 // w AS r, (i - 9) // 3 % w AS c,
         CAST(SUM(CASE WHEN (i - 9) % 3 = 0 THEN bv ELSE 0 END) AS BIGINT) AS rv,
         CAST(SUM(CASE WHEN (i - 9) % 3 = 1 THEN bv ELSE 0 END) AS BIGINT) AS gv,
         CAST(SUM(CASE WHEN (i - 9) % 3 = 2 THEN bv ELSE 0 END) AS BIGINT) AS bvv
  FROM b WHERE i >= 9 GROUP BY 1, 2, 3, 4, 5
),
lum AS (
  SELECT image_id, w, h, r, c,
         (2126 * rv + 7152 * gv + 722 * bvv) // 10000 AS l,
         abs(rv - gv) + abs(gv - bvv) AS spread
  FROM ch
),
tot AS (
  SELECT image_id, CAST(w * h AS BIGINT) AS n,
         CAST(SUM(l) AS BIGINT) AS s1, CAST(SUM(l * l) AS BIGINT) AS s2,
         CAST(SUM(spread) AS BIGINT) AS spr
  FROM lum GROUP BY 1, 2
),
sm AS (
  SELECT image_id, w, h, r, c,
         lag(l) OVER win_c + 2 * l + lead(l) OVER win_c AS vs,
         lead(l) OVER win_c - lag(l) OVER win_c AS vd
  FROM lum
  WINDOW win_c AS (PARTITION BY image_id, c ORDER BY r)
),
g AS (
  SELECT image_id, r, c, w, h,
         lead(vs) OVER win_r - lag(vs) OVER win_r AS gx,
         lag(vd) OVER win_r + 2 * vd + lead(vd) OVER win_r AS gy
  FROM sm
  WINDOW win_r AS (PARTITION BY image_id, r ORDER BY c)
),
edges AS (
  SELECT image_id, CAST(count(*) AS BIGINT) AS n_int,
         CAST(SUM(CASE WHEN abs(gx) + abs(gy) >= 160 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_edge
  FROM g WHERE r >= 1 AND r < h - 1 AND c >= 1 AND c < w - 1
  GROUP BY 1
),
m AS (
  SELECT gl.image_id, gl.n,
         COALESCE(1000 * e.n_edge // e.n_int, 0) AS edge_milli,
         gl.n * gl.s2 - gl.s1 * gl.s1 AS lum_var,
         1000 * gl.spr // (2 * gl.n) AS color_milli
  FROM tot gl LEFT JOIN edges e ON e.image_id = gl.image_id
)
SELECT image_id, n AS n_px, CAST(edge_milli AS BIGINT) AS edge_milli,
       CAST(lum_var AS BIGINT) AS lum_var,
       CAST(color_milli AS BIGINT) AS color_milli,
       CAST(CASE WHEN edge_milli >= 5 AND lum_var >= 100 * n * n
                  AND color_milli >= 10 THEN 1 ELSE 0 END AS INT) AS keep
FROM m
"""


REGISTRY.update({"image_quality": (q_image_quality, O_IMAGE_QUALITY)})



def q_resize_nn(spark, sf_dir):
    """Nearest-neighbor resize to 16x16 (operators/images.py
    ``resize_nn``) over a 1-in-16 sample of the RAW subset plus the
    quality fixtures: per image the position-weighted checksum and mean
    of the RESIZED tensor, all exact int64. The oracle replays the
    src_r = (r * h) // 16 index map over hex()-unrolled bytes."""
    from ..datagen import ensure_quality_images
    from ..operators.images import resize_nn

    imgs = _synth_images(spark, sf_dir).filter(
        (F.col("fmt") == "raw")
        & (F.substring("image_id", 4, 9).cast("long") % 16 == 0)
    ).unionByName(spark.read.parquet(ensure_quality_images("sf0.01")))
    return resize_nn(imgs, out_w=16, out_h=16)


_QUALITY_RAW_V = f"""v AS (
  SELECT image_id, w, h, hex(bytes) AS hx, octet_length(bytes) AS len
  FROM read_parquet('{SYNTH_SF001_IMAGES}')
  WHERE fmt = 'raw' AND CAST(substr(image_id, 4, 9) AS BIGINT) % 16 = 0
  UNION ALL
  SELECT image_id, w, h, hex(bytes) AS hx, octet_length(bytes) AS len
  FROM read_parquet('{SYNTH_SF001_QUALITY}')
),
series AS (SELECT i FROM generate_series(0, 3100) s(i)),
b AS (
  SELECT image_id, w, h, i,
         (strpos('0123456789ABCDEF', substr(hx, 2*i + 1, 1)) - 1) * 16
       + (strpos('0123456789ABCDEF', substr(hx, 2*i + 2, 1)) - 1) AS bv
  FROM v JOIN series ON i < len
)"""


O_RESIZE_NN = f"""
WITH {_QUALITY_RAW_V},
ch AS (
  SELECT image_id, (i - 9) // 3 AS p, (i - 9) % 3 AS chn,
         CAST(bv AS BIGINT) AS val
  FROM b WHERE i >= 9
),
grid AS (SELECT r.i AS r, c.i AS c
         FROM generate_series(0, 15) r(i) CROSS JOIN generate_series(0, 15) c(i)),
map AS (
  SELECT v.image_id, g.r, g.c,
         ((g.r * v.h) // 16) * v.w + ((g.c * v.w) // 16) AS p
  FROM v CROSS JOIN grid g
)
SELECT m.image_id, 16 AS out_w, 16 AS out_h,
       CAST(SUM(ch.val * (3 * (m.r * 16 + m.c) + ch.chn + 1)) AS BIGINT) AS chk,
       CAST((1000 * SUM(ch.val)) // 768 AS BIGINT) AS mean_milli
FROM map m JOIN ch ON ch.image_id = m.image_id AND ch.p = m.p
GROUP BY 1
"""


REGISTRY.update({"resize_nn": (q_resize_nn, O_RESIZE_NN)})


def q_image_exposure(spark, sf_dir):
    """Exposure-clipping filter (operators/images.py ``image_exposure``):
    per-mille crushed/blown luminance fractions + keep decision, exact
    int64, over the same raw-sample + quality-fixture input as
    resize_nn."""
    from ..datagen import ensure_quality_images
    from ..operators.images import image_exposure

    imgs = _synth_images(spark, sf_dir).filter(
        (F.col("fmt") == "raw")
        & (F.substring("image_id", 4, 9).cast("long") % 16 == 0)
    ).unionByName(spark.read.parquet(ensure_quality_images("sf0.01")))
    return image_exposure(imgs)


O_IMAGE_EXPOSURE = f"""
WITH {_QUALITY_RAW_V},
ch AS (
  SELECT image_id, w, h, (i - 9) // 3 AS p,
         CAST(SUM(CASE WHEN (i - 9) % 3 = 0 THEN bv ELSE 0 END) AS BIGINT) AS rv,
         CAST(SUM(CASE WHEN (i - 9) % 3 = 1 THEN bv ELSE 0 END) AS BIGINT) AS gv,
         CAST(SUM(CASE WHEN (i - 9) % 3 = 2 THEN bv ELSE 0 END) AS BIGINT) AS bvv
  FROM b WHERE i >= 9 GROUP BY 1, 2, 3, 4
),
lum AS (
  SELECT image_id,
         (2126 * rv + 7152 * gv + 722 * bvv) // 10000 AS l
  FROM ch
),
agg AS (
  SELECT image_id, CAST(count(*) AS BIGINT) AS n_px,
         CAST((1000 * SUM(CASE WHEN l < 16 THEN 1 ELSE 0 END)) // count(*) AS BIGINT) AS under_milli,
         CAST((1000 * SUM(CASE WHEN l > 239 THEN 1 ELSE 0 END)) // count(*) AS BIGINT) AS over_milli
  FROM lum GROUP BY 1
)
SELECT image_id, n_px, under_milli, over_milli,
       CAST(CASE WHEN under_milli <= 200 AND over_milli <= 200
                 THEN 1 ELSE 0 END AS INT) AS well_exposed
FROM agg
"""


REGISTRY.update({"image_exposure": (q_image_exposure, O_IMAGE_EXPOSURE)})


def q_letterbox(spark, sf_dir):
    """Uniform-border letterbox/pillarbox detection (operators/images.py
    ``letterbox_detect``) over the raw sample + quality fixtures (which
    stage real letterboxed and pillarboxed frames). Leading/trailing
    uniform line counts per side + the boxed flag; the oracle re-derives
    line uniformity from per-(line, channel) min/max over hex() bytes."""
    from ..datagen import ensure_quality_images
    from ..operators.images import letterbox_detect

    imgs = _synth_images(spark, sf_dir).filter(
        (F.col("fmt") == "raw")
        & (F.substring("image_id", 4, 9).cast("long") % 16 == 0)
    ).unionByName(spark.read.parquet(ensure_quality_images("sf0.01")))
    return letterbox_detect(imgs)


O_LETTERBOX = f"""
WITH {_QUALITY_RAW_V},
ch AS (
  SELECT image_id, w, h, (i - 9) // 3 // w AS r, (i - 9) // 3 % w AS c,
         (i - 9) % 3 AS chn, CAST(bv AS BIGINT) AS val
  FROM b WHERE i >= 9
),
rowu AS (
  SELECT image_id, h, r,
         max(CASE WHEN mn <> mx THEN 1 ELSE 0 END) = 0 AS uni
  FROM (SELECT image_id, h, r, chn, min(val) AS mn, max(val) AS mx
        FROM ch GROUP BY 1, 2, 3, 4) q
  GROUP BY 1, 2, 3
),
colu AS (
  SELECT image_id, w, c,
         max(CASE WHEN mn <> mx THEN 1 ELSE 0 END) = 0 AS uni
  FROM (SELECT image_id, w, c, chn, min(val) AS mn, max(val) AS mx
        FROM ch GROUP BY 1, 2, 3, 4) q
  GROUP BY 1, 2, 3
),
rs AS (
  SELECT image_id, h,
         COALESCE(CAST(min(r) FILTER (WHERE NOT uni) AS BIGINT), h) AS top_rows,
         COALESCE(CAST(h - 1 - max(r) FILTER (WHERE NOT uni) AS BIGINT), h) AS bottom_rows
  FROM rowu GROUP BY 1, 2
),
cs AS (
  SELECT image_id, w,
         COALESCE(CAST(min(c) FILTER (WHERE NOT uni) AS BIGINT), w) AS left_cols,
         COALESCE(CAST(w - 1 - max(c) FILTER (WHERE NOT uni) AS BIGINT), w) AS right_cols
  FROM colu GROUP BY 1, 2
)
SELECT rs.image_id, top_rows, bottom_rows, left_cols, right_cols,
       CAST(CASE WHEN (top_rows > 0 AND bottom_rows > 0
                       AND top_rows + bottom_rows < rs.h)
                  OR (left_cols > 0 AND right_cols > 0
                      AND left_cols + right_cols < cs.w)
                 THEN 1 ELSE 0 END AS INT) AS boxed
FROM rs JOIN cs ON cs.image_id = rs.image_id
"""


REGISTRY.update({"letterbox": (q_letterbox, O_LETTERBOX)})


GAPS_RES = 12  # 171 x 229 lattice cells over the region bbox


def q_coverage_gaps(spark, sf_dir):
    """Acquisition-gap anti-join (operators/tiling.py ``coverage_gaps``):
    res-12 grid cells over the region bbox with zero points. The lattice
    is generated from the index window (never 4^res global); the
    occupied side is the map-side-combined histogram."""
    from ..operators.tiling import coverage_gaps

    return coverage_gaps(
        geo_points(spark, sf_dir), res=GAPS_RES,
        lat0=35.0, lat1=45.0, lon0=-5.0, lon1=10.0,
    )


def _gaps_bounds():
    import math

    n = 1 << GAPS_RES
    cell = lambda v, off, span: max(0, min(n - 1, math.floor((v + off) / span * n)))
    return cell(-5.0, 180.0, 360.0), cell(10.0, 180.0, 360.0), \
        cell(35.0, 90.0, 180.0), cell(45.0, 90.0, 180.0), n


_GIX0, _GIX1, _GIY0, _GIY1, _GN = _gaps_bounds()

O_COVERAGE_GAPS = f"""
WITH {PTS_CTE},
occ AS (
  SELECT DISTINCT
    LEAST(GREATEST(CAST(FLOOR((lon + 180.0) / CAST(360.0 AS DOUBLE) * {_GN}.0)
                   AS BIGINT), 0), {_GN - 1}) AS ix,
    LEAST(GREATEST(CAST(FLOOR((lat + 90.0) / CAST(180.0 AS DOUBLE) * {_GN}.0)
                   AS BIGINT), 0), {_GN - 1}) AS iy
  FROM pts
),
grid AS (
  SELECT x.i AS ix, y.i AS iy
  FROM generate_series({_GIX0}, {_GIX1}) x(i)
  CROSS JOIN generate_series({_GIY0}, {_GIY1}) y(i)
)
SELECT CAST(g.ix AS BIGINT) AS ix, CAST(g.iy AS BIGINT) AS iy,
       CAST(g.ix * {_GN} + g.iy AS BIGINT) AS tile
FROM grid g
WHERE NOT EXISTS (SELECT 1 FROM occ o WHERE o.ix = g.ix AND o.iy = g.iy)
"""


REGISTRY.update({"coverage_gaps": (q_coverage_gaps, O_COVERAGE_GAPS)})


def q_pip_antijoin(spark, sf_dir):
    """Orphan scrub (operators/pip_join.py ``pip_anti_join``): points in
    NO polygon — the complement of pip_join over the same hierarchical-
    cover scale path. Oracle: NOT IN over the union of the per-polygon
    half-open ray-cast predicates."""
    from ..operators.pip_join import pip_anti_join

    pts = geo_points(spark, sf_dir)
    return pip_anti_join(
        pts, geo_polygons_df(spark), res=8, id_col="point_id"
    ).select("point_id")


O_PIP_ANTIJOIN = (
    f"WITH {PTS_CTE}, hits AS ("
    + " UNION ALL ".join(
        f"SELECT point_id FROM pts WHERE {pred}"
        for pred in POLY_PRED_SQL.values()
    )
    + ") SELECT point_id FROM pts "
    + "WHERE point_id NOT IN (SELECT point_id FROM hits)"
)


REGISTRY.update({"pip_antijoin": (q_pip_antijoin, O_PIP_ANTIJOIN)})




def q_embedding_pq_codes(spark, sf_dir):
    """Product-quantization compression (operators/similarity.py
    ``pq_encode``): every 64-float vector reduced to 8 subspace codes
    from integer-Lloyd codebooks (deterministic smallest-id seeds, 2
    rounds) — (vec_id, s, code). The oracle unrolls the identical
    training rounds in SQL, the same determinism contract as
    embedding_ivf_lloyd."""
    from ..operators.similarity import pq_encode

    return pq_encode(spark.read.parquet(f"{sf_dir}/embeddings.parquet"))


def _o_pq(m: int = 8, k_codes: int = 16, iters: int = 2) -> str:
    """Shared unrolled-PQ training CTE chain ending in ``af`` (the final
    per-subspace code assignment) and ``c{iters}`` (final codebooks).
    Subspace width is len(embedding)/m resolved per row (all fixture
    vectors are 64-wide; sub = 8)."""
    parts = [
        f"""flat AS (
  SELECT vec_id, CAST(i AS INT) - 1 AS d,
         CAST(round(CAST(embedding[CAST(i AS INT)] AS DOUBLE) * 1000.0) AS BIGINT) AS xq
  FROM embeddings JOIN generate_series(1, 8192) AS t(i) ON i <= len(embedding)
),
sub AS (
  -- len1 // {m} keeps the divisor INTEGER: DuckDB's // degrades to plain
  -- division the moment either operand is DOUBLE (9 // 8.0 = 1.125)
  SELECT vec_id, CAST(d // (len1 // {m}) AS BIGINT) AS s,
         CAST(d % (len1 // {m}) AS BIGINT) AS ds, xq
  FROM (SELECT f.*, (SELECT max(d) + 1 FROM flat g WHERE g.vec_id = f.vec_id) AS len1
        FROM flat f)
),
c0 AS (SELECT s, vec_id AS code, ds, xq AS cq FROM sub WHERE vec_id < {k_codes})"""
    ]
    for it in range(iters):
        parts.append(
            f"""l{it} AS (
  SELECT f.vec_id, f.s, c.code, sum((f.xq - c.cq) * (f.xq - c.cq)) AS l2
  FROM sub f JOIN c{it} c ON c.s = f.s AND c.ds = f.ds GROUP BY 1, 2, 3
),
a{it} AS (
  SELECT vec_id, s, code FROM (
    SELECT vec_id, s, code,
           row_number() OVER (PARTITION BY vec_id, s ORDER BY l2 ASC, code ASC) AS rn
    FROM l{it}) t WHERE rn = 1
),
c{it + 1} AS (
  SELECT a.s, a.code, f.ds, CAST(sum(f.xq) // count(*) AS BIGINT) AS cq
  FROM a{it} a JOIN sub f ON f.vec_id = a.vec_id AND f.s = a.s GROUP BY 1, 2, 3
)"""
        )
    fin = iters
    parts.append(
        f"""lf AS (
  SELECT f.vec_id, f.s, c.code, sum((f.xq - c.cq) * (f.xq - c.cq)) AS l2
  FROM sub f JOIN c{fin} c ON c.s = f.s AND c.ds = f.ds GROUP BY 1, 2, 3
),
af AS (
  SELECT vec_id, s, code FROM (
    SELECT vec_id, s, code,
           row_number() OVER (PARTITION BY vec_id, s ORDER BY l2 ASC, code ASC) AS rn
    FROM lf) t WHERE rn = 1
)"""
    )
    return ",\n".join(parts)


O_PQ_CODES = f"""
WITH {_o_pq()}
SELECT vec_id, CAST(s AS INT) AS s, CAST(code AS BIGINT) AS code FROM af
"""


REGISTRY.update({"embedding_pq_codes": (q_embedding_pq_codes, O_PQ_CODES)})


def q_embedding_pq_ann(spark, sf_dir):
    """Asymmetric-distance PQ ANN (operators/similarity.py
    ``pq_ann_topk``, Jegou et al. TPAMI 2011): per query an exact L2
    table against every codebook entry (broadcast), every database
    vector scored by m table lookups over its codes — top-5 by ADC
    distance. Oracle replays training + tables + lookup join in SQL."""
    from ..operators.similarity import pq_ann_topk

    return pq_ann_topk(spark.read.parquet(f"{sf_dir}/embeddings.parquet"))


O_PQ_ANN = f"""
WITH {_o_pq()},
qd AS (
  SELECT f.vec_id AS query_id, f.s, c.code,
         sum((f.xq - c.cq) * (f.xq - c.cq)) AS qd
  FROM sub f JOIN c2 c ON c.s = f.s AND c.ds = f.ds
  WHERE f.vec_id % 50 = 0 GROUP BY 1, 2, 3
),
adc AS (
  SELECT q.query_id, a.vec_id AS neighbor_id, CAST(sum(q.qd) AS BIGINT) AS adc
  FROM af a JOIN qd q ON q.s = a.s AND q.code = a.code
  WHERE a.vec_id <> q.query_id GROUP BY 1, 2
),
ranked AS (
  SELECT query_id, neighbor_id, adc,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY adc ASC, neighbor_id ASC) AS rank
  FROM adc
)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, adc
FROM ranked WHERE rank <= 5
"""


REGISTRY.update({"embedding_pq_ann": (q_embedding_pq_ann, O_PQ_ANN)})




def q_embedding_pq_rescored(spark, sf_dir):
    """Two-stage PQ retrieval (operators/similarity.py
    ``pq_ann_rescored``): ADC shortlist of 50 per query, exact quantized-
    dot rescore of the shortlist only, top-5. The oracle extends the PQ
    chain with the same rescore join."""
    from ..operators.similarity import pq_ann_rescored

    return pq_ann_rescored(spark.read.parquet(f"{sf_dir}/embeddings.parquet"))


O_PQ_RESCORED = f"""
WITH {_o_pq()},
qd AS (
  SELECT f.vec_id AS query_id, f.s, c.code,
         sum((f.xq - c.cq) * (f.xq - c.cq)) AS qd
  FROM sub f JOIN c2 c ON c.s = f.s AND c.ds = f.ds
  WHERE f.vec_id % 50 = 0 GROUP BY 1, 2, 3
),
adc AS (
  SELECT q.query_id, a.vec_id AS neighbor_id, CAST(sum(q.qd) AS BIGINT) AS adc
  FROM af a JOIN qd q ON q.s = a.s AND q.code = a.code
  WHERE a.vec_id <> q.query_id GROUP BY 1, 2
),
short AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY adc ASC, neighbor_id ASC) AS rn
    FROM adc) t WHERE rn <= 50
),
dots AS (
  SELECT s.query_id, s.neighbor_id, CAST(sum(qf.xq * nf.xq) AS BIGINT) AS dot
  FROM short s
  JOIN flat qf ON qf.vec_id = s.query_id
  JOIN flat nf ON nf.vec_id = s.neighbor_id AND nf.d = qf.d
  GROUP BY 1, 2
),
ranked AS (
  SELECT query_id, neighbor_id, dot,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY dot DESC, neighbor_id ASC) AS rank
  FROM dots
)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, dot
FROM ranked WHERE rank <= 5
"""


REGISTRY.update({"embedding_pq_rescored": (q_embedding_pq_rescored, O_PQ_RESCORED)})



# ---------------------------------------------------------------------------
# driver window ordering
# ---------------------------------------------------------------------------

GEO_SPLIT_RES = 7


def q_geo_split(spark, sf_dir):
    """Spatially disjoint train/val/test split (operators/sampling.py
    ``geo_split``): the md5 split hash is taken of the res-7 TILE, not
    the row id, so all imagery of one cell lands in one split — the
    anti-leakage counterpart of hash_split for spatially autocorrelated
    data. Pure column expressions; sticky per cell."""
    from ..operators.sampling import geo_split

    return geo_split(geo_points(spark, sf_dir), res=GEO_SPLIT_RES).select(
        "point_id", "tile", "split"
    )


O_GEO_SPLIT = f"""
WITH {PTS_CTE},
t AS (SELECT point_id, {_tile_sql(GEO_SPLIT_RES)} AS tile FROM pts),
h AS (
  SELECT point_id, tile,
         {_o_hex8("md5('geo0' || CAST(tile AS VARCHAR))", 1)} AS h32
  FROM t
)
SELECT point_id, tile,
       CASE WHEN h32 * 1000 < 800 * 4294967296 THEN 'train'
            WHEN h32 * 1000 < 900 * 4294967296 THEN 'val'
            ELSE 'test' END AS split
FROM h
"""


def q_tile_cap_sample(spark, sf_dir):
    """Per-cell cap balancing (operators/sampling.py ``tile_cap_sample``):
    keep the 3 smallest (md5-hash, id) rows per res-8 tile. The engine
    runs the histogram-bounded hash-prefilter scale path (the window
    sorts O(margin*cap) rows per cell, never the raw hot cell) with the
    counted fallback; the oracle is the plain window spec the prefilter
    must be invisible against."""
    from ..operators.sampling import tile_cap_sample

    return tile_cap_sample(
        geo_points(spark, sf_dir), res=8, cap=3, id_col="point_id"
    ).select(F.col("id").alias("point_id"), "tile", "rk")


O_TILE_CAP = f"""
WITH {PTS_CTE},
t AS (SELECT point_id, {_tile_sql(8)} AS tile FROM pts),
h AS (
  SELECT point_id, tile,
         {_o_hex8("md5('cap0' || CAST(point_id AS VARCHAR))", 1)} AS h32
  FROM t
),
r AS (
  SELECT point_id, tile,
         row_number() OVER (PARTITION BY tile ORDER BY h32, point_id) AS rk
  FROM h
)
SELECT point_id, tile, CAST(rk AS INT) AS rk FROM r WHERE rk <= 3
"""


KRING_RES, KRING_K = 8, 2


def q_kring_smooth(spark, sf_dir):
    """k-ring density smoothing (operators/tiling.py ``kring_smooth``):
    each res-8 tile's value becomes the point count over its Chebyshev-2
    neighborhood (the 5x5 box, edge-clipped) — H3 kRing semantics on the
    quad grid. Histogram-only fan-out: the 25x explode touches occupied
    cells, never fact rows."""
    from ..operators.tiling import kring_smooth

    return kring_smooth(geo_points(spark, sf_dir), res=KRING_RES, k=KRING_K)


_KRN = 1 << KRING_RES

O_KRING_SMOOTH = f"""
WITH {PTS_CTE},
occ AS (
  SELECT LEAST(GREATEST(CAST(FLOOR((lon + 180.0) / CAST(360.0 AS DOUBLE) * {_KRN}.0)
                 AS BIGINT), 0), {_KRN - 1}) AS ix,
         LEAST(GREATEST(CAST(FLOOR((lat + 90.0) / CAST(180.0 AS DOUBLE) * {_KRN}.0)
                 AS BIGINT), 0), {_KRN - 1}) AS iy,
         count(*) AS cnt
  FROM pts GROUP BY 1, 2
),
fan AS (
  SELECT ix + dx.i AS tx, iy + dy.i AS ty, cnt
  FROM occ
  CROSS JOIN generate_series(-{KRING_K}, {KRING_K}) dx(i)
  CROSS JOIN generate_series(-{KRING_K}, {KRING_K}) dy(i)
  WHERE ix + dx.i BETWEEN 0 AND {_KRN - 1}
    AND iy + dy.i BETWEEN 0 AND {_KRN - 1}
)
SELECT CAST(tx * {_KRN} + ty AS BIGINT) AS tile,
       CAST(SUM(cnt) AS BIGINT) AS ring_sum
FROM fan GROUP BY 1
"""


def q_gearys_c(spark, sf_dir):
    """Global Geary's C of the res-8 density raster (operators/spatial.py
    ``gearys_c``) — the local-contrast complement of moran_i, same rook
    adjacency over all 4^res cells with empties folded in closed form;
    exact DECIMAL(38,0) algebra, histogram-only plan."""
    from ..operators.spatial import gearys_c

    return gearys_c(geo_points(spark, sf_dir), res=MORAN_RES)


def _o_gearys_c(res: int) -> str:
    n = 1 << res
    n_cells = n * n
    w_sum = 4 * n * (n - 1)
    deg = (
        f"((CASE WHEN tile // {n} > 0 THEN 1 ELSE 0 END)"
        f" + (CASE WHEN tile // {n} < {n - 1} THEN 1 ELSE 0 END)"
        f" + (CASE WHEN tile % {n} > 0 THEN 1 ELSE 0 END)"
        f" + (CASE WHEN tile % {n} < {n - 1} THEN 1 ELSE 0 END))"
    )
    return f"""
WITH {PTS_CTE},
hist AS (SELECT {_tile_sql(res)} AS tile, count(*) AS x FROM pts GROUP BY 1),
base AS (
  SELECT CAST(sum(x) AS HUGEINT) AS s, CAST(sum(x * x) AS HUGEINT) AS q,
         CAST(sum({deg} * x * x) AS HUGEINT) AS dq, count(*) AS occ
  FROM hist
),
fan AS (
  SELECT (tile // {n} + dx) * {n} + (tile % {n} + dy) AS ntile, x AS xi
  FROM hist, (VALUES (-1, 0), (1, 0), (0, -1), (0, 1)) o(dx, dy)
  WHERE tile // {n} + dx BETWEEN 0 AND {n - 1}
    AND tile % {n} + dy BETWEEN 0 AND {n - 1}
),
pairs AS (
  SELECT COALESCE(CAST(sum(f.xi * h.x) AS HUGEINT), CAST(0 AS HUGEINT)) AS p
  FROM fan f JOIN hist h ON f.ntile = h.tile
),
alg AS (
  SELECT occ,
    CAST({n_cells - 1} AS HUGEINT) * {n_cells} * (dq - p) AS num_i,
    CAST({w_sum} AS HUGEINT) * (CAST({n_cells} AS HUGEINT) * q - s * s) AS den_i
  FROM base, pairs
)
SELECT {res} AS res, CAST({n_cells} AS BIGINT) AS n_cells,
       CAST({w_sum} AS BIGINT) AS w_sum, occ AS occupied,
       CAST(num_i AS DOUBLE) AS num, CAST(den_i AS DOUBLE) AS den,
       CAST(num_i AS DOUBLE) / CAST(den_i AS DOUBLE) AS geary_c
FROM alg
"""


O_GEARYS_C = _o_gearys_c(MORAN_RES)


REGISTRY.update({
    "geo_split": (q_geo_split, O_GEO_SPLIT),
    "tile_cap_sample": (q_tile_cap_sample, O_TILE_CAP),
    "kring_smooth": (q_kring_smooth, O_KRING_SMOOTH),
    "gearys_c": (q_gearys_c, O_GEARYS_C),
})



AUDIT_LANGS = ["en", "es", "fr", "de"]


def q_region_lang_audit(spark, sf_dir):
    """Caption-language vs region-rule consistency audit
    (operators/translate.py ``region_lang_audit``): unique-owner PIP +
    marker lang_id + broadcast polygon->lang dim; agree=0 rows are the
    reference's human-review queue (lib/osm_utils.py:120-121) as a batch
    table. Captions come from the documents table, co-located with the
    point fixture by ``point_id % n_docs`` (counted broadcast dim)."""
    from ..operators.translate import region_lang_audit

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    n_docs = docs.count()  # counted broadcast gate: dim size, driver scalar
    pts = orders.selectExpr(
        "o_orderkey AS point_id",
        f"{PT_LAT_SQL} AS lat",
        f"{PT_LON_SQL} AS lon",
        f"o_orderkey % {n_docs} AS doc_id",
    ).join(F.broadcast(docs), "doc_id").select("point_id", "lat", "lon", "text")
    region_langs = spark.createDataFrame(
        [(pid, AUDIT_LANGS[int(pid[1:]) % 4]) for pid, _ in GEO_POLYGONS],
        "polygon_id string, expected_lang string",
    )
    return region_lang_audit(pts, geo_polygons_df(spark), region_langs, res=8)


_AUDIT_EXPECTED = (
    "CASE CAST(substr(polygon_id, 2) AS INT) % 4 "
    "WHEN 0 THEN 'en' WHEN 1 THEN 'es' WHEN 2 THEN 'fr' ELSE 'de' END"
)

O_REGION_LANG_AUDIT = f"""
WITH ptsx AS (
  SELECT o.o_orderkey AS point_id, {PT_LAT_SQL} AS lat, {PT_LON_SQL} AS lon,
         d.text AS text
  FROM orders o JOIN documents d
    ON d.doc_id = o.o_orderkey % (SELECT count(*) FROM documents)
),
hits AS (
  {" UNION ALL ".join(
    f"SELECT point_id, '{pid}' AS polygon_id FROM ptsx WHERE {pred}"
    for pid, pred in POLY_PRED_SQL.items()
  )}
),
owned AS (SELECT point_id, min(polygon_id) AS polygon_id FROM hits GROUP BY 1),
scored AS (
  SELECT point_id,
         {_o_lang_score("en", [" the ", " a "])},
         {_o_lang_score("es", [" el ", " la "])},
         {_o_lang_score("fr", [" le ", " la "])},
         {_o_lang_score("de", [" der ", " die "])}
  FROM ptsx
),
g AS (
  SELECT point_id,
         CASE WHEN greatest(score_en, score_es, score_fr, score_de) = 0 THEN 'unk'
              WHEN score_en = greatest(score_en, score_es, score_fr, score_de) THEN 'en'
              WHEN score_es = greatest(score_en, score_es, score_fr, score_de) THEN 'es'
              WHEN score_fr = greatest(score_en, score_es, score_fr, score_de) THEN 'fr'
              ELSE 'de' END AS guess
  FROM scored
)
SELECT o.point_id, o.polygon_id, {_AUDIT_EXPECTED} AS expected_lang, g.guess,
       CAST(CASE WHEN g.guess = {_AUDIT_EXPECTED} THEN 1 ELSE 0 END AS INT) AS agree
FROM owned o JOIN g ON g.point_id = o.point_id
"""


# anchor after the events fixture's last timestamp; halflife one week
DECAY_ANCHOR, DECAY_HALFLIFE, DECAY_RES = 1_719_792_000, 604_800, 7


def q_decayed_heatmap(spark, sf_dir):
    """Recency-weighted heatmap (operators/heatmap.py ``decayed_tiles``):
    per-tile exact power-of-two decayed weights over the events stream —
    2^(16 - min(age // week, 16)) per event from a fixed anchor — next
    to the raw count and the newest age. Same one-scan histogram plan as
    heatmap_tiles; the decay is a column expression."""
    from ..operators.heatmap import decayed_tiles

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev.createOrReplaceTempView("__decay_events")
    t = spark.sql(
        f"SELECT ts, {TRAJ_LAT_SQL} AS lat, {TRAJ_LON_SQL} AS lon "
        "FROM __decay_events"
    )
    return decayed_tiles(
        t, res=DECAY_RES, anchor_epoch=DECAY_ANCHOR, halflife_s=DECAY_HALFLIFE
    )


_DECN = 1 << DECAY_RES

O_DECAYED_HEATMAP = f"""
WITH ev AS (
  SELECT CAST(floor(epoch(ts)) AS BIGINT) AS ep,
         {TRAJ_LAT_SQL} AS lat, {TRAJ_LON_SQL} AS lon
  FROM events
),
w AS (
  SELECT LEAST(GREATEST(CAST(FLOOR((lon + 180.0) / CAST(360.0 AS DOUBLE) * {_DECN}.0)
                 AS BIGINT), 0), {_DECN - 1}) * {_DECN}
       + LEAST(GREATEST(CAST(FLOOR((lat + 90.0) / CAST(180.0 AS DOUBLE) * {_DECN}.0)
                 AS BIGINT), 0), {_DECN - 1}) AS tile,
         GREATEST({DECAY_ANCHOR} - ep, 0) AS age
  FROM ev
)
SELECT tile,
       CAST(SUM(CAST(2 AS BIGINT) ** (16 - LEAST(age // {DECAY_HALFLIFE}, 16))) AS BIGINT)
         AS decayed_sum,
       count(*) AS n_points,
       MIN(age) AS newest_age_s
FROM w GROUP BY 1
"""


REGISTRY.update({
    "region_lang_audit": (q_region_lang_audit, O_REGION_LANG_AUDIT),
    "decayed_heatmap": (q_decayed_heatmap, O_DECAYED_HEATMAP),
})



def q_image_pyramid(spark, sf_dir):
    """Mip pyramid audit (operators/images.py ``mip_pyramid``): two 2x2
    integer-floor-mean reduces per image over the raw sample + quality
    fixtures, one (px_sum, chk) audit row per level. The oracle chains
    the identical reduce as grouped CTE levels over the unrolled
    bytes."""
    from ..datagen import ensure_quality_images
    from ..operators.images import mip_pyramid

    imgs = _synth_images(spark, sf_dir).filter(
        (F.col("fmt") == "raw")
        & (F.substring("image_id", 4, 9).cast("long") % 16 == 0)
    ).unionByName(spark.read.parquet(ensure_quality_images("sf0.01")))
    return mip_pyramid(imgs, levels=2)


def _o_mip_level(prev: str) -> str:
    """One 2x2 floor-mean reduce: crop to even dims, group 2x2 blocks,
    floor-divide the 4-pixel sum. Positional GROUP BY keeps the halved
    dims out of the aggregate scope."""
    return f"""(
  SELECT image_id, w // 2 AS w, h // 2 AS h, r // 2 AS r, c // 2 AS c, chn,
         CAST(SUM(val) // 4 AS BIGINT) AS val
  FROM {prev}
  WHERE r < (h // 2) * 2 AND c < (w // 2) * 2
  GROUP BY 1, 2, 3, 4, 5, 6
)"""


_MIP_AGG = (
    "SELECT image_id, {lvl} AS level, w, h, CAST(SUM(val) AS BIGINT) AS px_sum, "
    "CAST(SUM(val * (3 * (r * w + c) + chn + 1)) AS BIGINT) AS chk "
    "FROM l{lvl} GROUP BY 1, 2, 3, 4"
)

O_IMAGE_PYRAMID = f"""
WITH {_QUALITY_RAW_V},
l0 AS (
  SELECT image_id, w, h, (i - 9) // 3 // w AS r, (i - 9) // 3 % w AS c,
         (i - 9) % 3 AS chn, CAST(bv AS BIGINT) AS val
  FROM b WHERE i >= 9
),
l1 AS {_o_mip_level("l0")},
l2 AS {_o_mip_level("l1")}
SELECT image_id, CAST(level AS INT) AS level, CAST(w AS INT) AS w,
       CAST(h AS INT) AS h, px_sum, chk
FROM ({_MIP_AGG.format(lvl=0)} UNION ALL {_MIP_AGG.format(lvl=1)}
      UNION ALL {_MIP_AGG.format(lvl=2)}) u
WHERE w >= 1 AND h >= 1
"""


REGISTRY.update({"image_pyramid": (q_image_pyramid, O_IMAGE_PYRAMID)})



def q_mosaic_pack(spark, sf_dir):
    """4-up mosaic augmentation audit (operators/images.py
    ``mosaic_pack``): md5-bucketed quadrant assignment + separable
    composite checksums over the raw sample + quality fixtures — the
    members' pixels never meet, only their partial ints. The oracle
    replays the bucket/rank assignment and the NN-resize + offset
    weighting in SQL."""
    from ..datagen import ensure_quality_images
    from ..operators.images import mosaic_pack

    imgs = _synth_images(spark, sf_dir).filter(
        (F.col("fmt") == "raw")
        & (F.substring("image_id", 4, 9).cast("long") % 16 == 0)
    ).unionByName(spark.read.parquet(ensure_quality_images("sf0.01")))
    return mosaic_pack(imgs, side=8)


O_MOSAIC_PACK = f"""
WITH {_QUALITY_RAW_V},
hq AS (
  SELECT image_id, w, h,
         {_o_hex8("md5('mosaic0' || image_id)", 1)} AS h32
  FROM v
),
rk AS (
  SELECT image_id, w, h, h32 % 16 AS bucket,
         row_number() OVER (PARTITION BY h32 % 16 ORDER BY h32, image_id) AS rn
  FROM hq
),
asg AS (
  SELECT image_id, w, h,
         CAST(bucket * 4294967296 + (rn - 1) // 4 AS BIGINT) AS group_id,
         (rn - 1) % 4 AS quad
  FROM rk
),
ch AS (
  SELECT image_id, (i - 9) // 3 AS p, (i - 9) % 3 AS chn,
         CAST(bv AS BIGINT) AS val
  FROM b WHERE i >= 9
),
grid AS (SELECT r.i AS r, c.i AS c
         FROM generate_series(0, 7) r(i) CROSS JOIN generate_series(0, 7) c(i)),
map AS (
  SELECT a.image_id, a.group_id, a.quad, g.r, g.c,
         ((g.r * a.h) // 8) * a.w + ((g.c * a.w) // 8) AS p
  FROM asg a CROSS JOIN grid g
),
parts AS (
  SELECT m.group_id,
         CAST(SUM(ch.val * (3 * ((m.r + (m.quad // 2) * 8) * 16
                                 + m.c + (m.quad % 2) * 8) + ch.chn + 1))
              AS BIGINT) AS chk,
         CAST(SUM(ch.val) AS BIGINT) AS px_sum
  FROM map m JOIN ch ON ch.image_id = m.image_id AND ch.p = m.p
  GROUP BY 1
),
full_g AS (SELECT group_id FROM asg GROUP BY 1 HAVING count(*) = 4)
SELECT p.group_id, p.chk, p.px_sum
FROM parts p JOIN full_g USING (group_id)
"""


REGISTRY.update({"mosaic_pack": (q_mosaic_pack, O_MOSAIC_PACK)})



def q_convex_hull(spark, sf_dir):
    """Per-cluster convex hull edges (operators/spatial.py
    ``convex_hull_edges``): micro-degree integer quantization makes
    every orientation test an exact int64 cross product, so the
    monotone-chain engine path and the quadratic all-pairs SQL spec
    agree bit-exactly. Thinned fixture (point_id % 199) bounds the
    CUBIC oracle at every tier (~150 pts/cluster at sf0.1 -> ~3e6
    witness scans/cluster; % 23 put it at 2e9); 5 clusters by id."""
    from ..operators.spatial import convex_hull_edges

    pts = geo_points(spark, sf_dir).filter(F.col("point_id") % 199 == 0)
    return convex_hull_edges(
        pts.withColumn("cluster_id", F.col("point_id") % 5)
    )


O_CONVEX_HULL = f"""
WITH {PTS_CTE},
q AS (
  SELECT point_id % 5 AS cluster, point_id,
         CAST(FLOOR((lon + 180.0) * CAST(1000000.0 AS DOUBLE)) AS BIGINT) AS x,
         CAST(FLOOR((lat + 90.0) * CAST(1000000.0 AS DOUBLE)) AS BIGINT) AS y
  FROM pts WHERE point_id % 199 = 0
),
d AS (
  SELECT cluster, min(point_id) AS pid, x, y
  FROM q GROUP BY cluster, x, y
)
SELECT a.cluster, a.pid AS a_id, b.pid AS b_id
FROM d a JOIN d b ON a.cluster = b.cluster AND a.pid <> b.pid
WHERE NOT EXISTS (
  SELECT 1 FROM d p
  WHERE p.cluster = a.cluster AND p.pid <> a.pid AND p.pid <> b.pid
    AND (
      (b.x - a.x) * (p.y - a.y) - (b.y - a.y) * (p.x - a.x) < 0
      OR ((b.x - a.x) * (p.y - a.y) - (b.y - a.y) * (p.x - a.x) = 0
          AND NOT ((p.x - a.x) * (b.x - a.x) + (p.y - a.y) * (b.y - a.y) > 0
                   AND (p.x - a.x) * (b.x - a.x) + (p.y - a.y) * (b.y - a.y)
                       < (b.x - a.x) * (b.x - a.x) + (b.y - a.y) * (b.y - a.y)))
    )
)
"""


REGISTRY.update({"convex_hull": (q_convex_hull, O_CONVEX_HULL)})



def q_aspect_buckets(spark, sf_dir):
    """Aspect-ratio bucket planning (operators/images.py
    ``aspect_buckets``): metadata-only snap of (1000*w) div h to the
    nearest ladder rung (tie -> smaller) + per-rung batch sizing over
    the full image table — the scan reads two int columns, never
    bytes."""
    from ..operators.images import aspect_buckets

    return aspect_buckets(_synth_images(spark, sf_dir))


O_ASPECT_BUCKETS = f"""
WITH img AS (
  SELECT CAST((1000 * w) // h AS BIGINT) AS r
  FROM read_parquet('{SYNTH_SF001_IMAGES}')
),
d AS (SELECT r, ABS(r - 500) AS d0, ABS(r - 750) AS d1, ABS(r - 1000) AS d2, ABS(r - 1333) AS d3, ABS(r - 2000) AS d4 FROM img),
snap AS (SELECT r, CAST(CASE WHEN d0 = LEAST(d0, d1, d2, d3, d4) THEN 500 WHEN d1 = LEAST(d0, d1, d2, d3, d4) THEN 750 WHEN d2 = LEAST(d0, d1, d2, d3, d4) THEN 1000 WHEN d3 = LEAST(d0, d1, d2, d3, d4) THEN 1333 ELSE 2000 END AS BIGINT) AS bucket_milli FROM d)
SELECT bucket_milli, count(*) AS n_images,
       CAST((count(*) + 31) // 32 AS BIGINT) AS n_batches,
       MIN(r) AS min_ratio_milli, MAX(r) AS max_ratio_milli
FROM snap GROUP BY 1
""".format(SYNTH_SF001_IMAGES=SYNTH_SF001_IMAGES)


REGISTRY.update({"aspect_buckets": (q_aspect_buckets, O_ASPECT_BUCKETS)})



MS_RES, MS_THRESHOLD = 8, 2


def q_contour_cases(spark, sf_dir):
    """Marching-squares case histogram (operators/spatial.py
    ``marching_cases``): 4-bit corner-occupancy cases of every 2x2
    raster block at res-8 with density threshold 2 — contour topology
    without materializing the grid; only occupied corners fan out."""
    from ..operators.spatial import marching_cases

    return marching_cases(
        geo_points(spark, sf_dir), res=MS_RES, threshold=MS_THRESHOLD
    )


_MSN = 1 << MS_RES

O_CONTOUR_CASES = f"""
WITH {PTS_CTE},
hist AS (
  SELECT LEAST(GREATEST(CAST(FLOOR((lon + 180.0) / CAST(360.0 AS DOUBLE) * {_MSN}.0)
                 AS BIGINT), 0), {_MSN - 1}) AS ix,
         LEAST(GREATEST(CAST(FLOOR((lat + 90.0) / CAST(180.0 AS DOUBLE) * {_MSN}.0)
                 AS BIGINT), 0), {_MSN - 1}) AS iy,
         count(*) AS cnt
  FROM pts GROUP BY 1, 2
),
occ AS (SELECT ix, iy FROM hist WHERE cnt >= {MS_THRESHOLD}),
fan AS (
  SELECT ix + dx AS bx, iy + dy AS by, bit
  FROM occ, (VALUES (0, 0, 1), (-1, 0, 2), (0, -1, 4), (-1, -1, 8)) o(dx, dy, bit)
  WHERE ix + dx BETWEEN 0 AND {_MSN - 2}
    AND iy + dy BETWEEN 0 AND {_MSN - 2}
),
blocks AS (SELECT bx, by, SUM(bit) AS case_idx FROM fan GROUP BY 1, 2)
SELECT CAST(case_idx AS INT) AS case_idx, count(*) AS n_blocks
FROM blocks GROUP BY 1
"""


REGISTRY.update({"contour_cases": (q_contour_cases, O_CONTOUR_CASES)})



def q_sq8_codes(spark, sf_dir):
    """SQ8 byte codes (operators/similarity.py ``sq8_encode``): per-dim
    min/span trained on the corpus, code = ((xq - mn) * 255) div
    max(span, 1) — exact integers both sides."""
    from ..operators.similarity import sq8_encode

    return sq8_encode(spark.read.parquet(f"{sf_dir}/embeddings.parquet"))


_SQ8_FLAT = """flat AS (
  SELECT vec_id, CAST(i AS INT) - 1 AS d,
         CAST(round(CAST(embedding[CAST(i AS INT)] AS DOUBLE) * 1000.0) AS BIGINT) AS xq
  FROM embeddings JOIN generate_series(1, 8192) AS t(i) ON i <= len(embedding)
),
stats AS (
  SELECT d, min(xq) AS mn, GREATEST(max(xq) - min(xq), 1) AS span
  FROM flat GROUP BY 1
)"""

O_SQ8_CODES = f"""
WITH {_SQ8_FLAT}
SELECT vec_id, f.d, CAST(((xq - mn) * 255) // span AS BIGINT) AS code
FROM flat f JOIN stats USING (d)
"""


def q_sq8_ann(spark, sf_dir):
    """Asymmetric SQ8 ANN (operators/similarity.py ``sq8_ann_topk``):
    exact quantized queries (% 50 fixture sample) against dequantized
    byte codes, integer L2, top-5 — the faiss SQ8 baseline as a
    broadcast-scan plan."""
    from ..operators.similarity import sq8_ann_topk

    return sq8_ann_topk(spark.read.parquet(f"{sf_dir}/embeddings.parquet"))


O_SQ8_ANN = f"""
WITH {_SQ8_FLAT},
deq AS (
  SELECT vec_id, f.d,
         mn + (CAST(((xq - mn) * 255) // span AS BIGINT) * span) // 255 AS dq
  FROM flat f JOIN stats USING (d)
),
q AS (SELECT vec_id AS query_id, d, xq FROM flat WHERE vec_id % 50 = 0),
dist AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         CAST(SUM((q.xq - e.dq) * (q.xq - e.dq)) AS BIGINT) AS adist
  FROM deq e JOIN q ON q.d = e.d
  WHERE e.vec_id <> q.query_id GROUP BY 1, 2
),
ranked AS (
  SELECT query_id, neighbor_id, adist,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY adist ASC, neighbor_id ASC) AS rank
  FROM dist
)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, adist
FROM ranked WHERE rank <= 5
"""


REGISTRY.update({
    "embedding_sq8_codes": (q_sq8_codes, O_SQ8_CODES),
    "embedding_sq8_ann": (q_sq8_ann, O_SQ8_ANN),
})



def q_stream_decayed_heatmap(spark, sf_dir):
    """Streaming-vs-batch parity gate for the recency-decayed raster:
    the events-derived point fixture staged as 3 parquet files feeds 3
    micro-batches through the stateful decayed sum (fixed anchor, exact
    power-of-two weights); the final state must equal the batch
    ``decayed_tiles`` oracle exactly — same oracle SQL as
    decayed_heatmap."""
    from ..streaming.microbatch import run_decayed_stream_once

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev.createOrReplaceTempView("__sdecay_events")
    t = spark.sql(
        f"SELECT ts, {TRAJ_LAT_SQL} AS lat, {TRAJ_LON_SQL} AS lon "
        "FROM __sdecay_events"
    )
    return _run_staged_stream(
        t,
        lambda src, ckpt: run_decayed_stream_once(
            spark, src, ckpt,
            res=DECAY_RES, anchor_epoch=DECAY_ANCHOR,
            halflife_s=DECAY_HALFLIFE,
        ),
    )


REGISTRY.update({
    "stream_decayed_heatmap": (q_stream_decayed_heatmap, O_DECAYED_HEATMAP),
})



SIMPLIFY_EPS = 3_000_000  # 3 degrees in micro-degrees


def q_simplify_radial(spark, sf_dir):
    """Radial polyline simplification (operators/spatial.py
    ``simplify_radial``): keep a point iff its integer squared distance
    from the last kept point >= eps^2, first always kept — sequential
    per track, gated against a RECURSIVE SQL spec (correlated min-rank
    step) over the events trajectory fixture."""
    from ..operators.spatial import simplify_radial

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev.createOrReplaceTempView("__simp_events")
    t = spark.sql(
        f"SELECT user_id, ts, event_id, {TRAJ_LAT_SQL} AS lat, "
        f"{TRAJ_LON_SQL} AS lon FROM __simp_events"
    )
    return simplify_radial(t, eps_micro=SIMPLIFY_EPS)


O_SIMPLIFY_RADIAL = f"""
WITH RECURSIVE src AS (
  SELECT user_id, ts, event_id,
         {TRAJ_LAT_SQL} AS lat, {TRAJ_LON_SQL} AS lon
  FROM events
),
t AS (
  SELECT user_id AS entity,
         CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
              AS BIGINT) AS rn,
         CAST(FLOOR((lon + 180.0) * CAST(1000000.0 AS DOUBLE)) AS BIGINT) AS x,
         CAST(FLOOR((lat + 90.0) * CAST(1000000.0 AS DOUBLE)) AS BIGINT) AS y
  FROM src
),
kept AS (
  SELECT entity, rn, x, y FROM t WHERE rn = 1
  UNION ALL
  SELECT n.entity, n.rn, n.x, n.y
  FROM kept k
  JOIN t n ON n.entity = k.entity
   AND n.rn = (
     SELECT min(m.rn) FROM t m
     WHERE m.entity = k.entity AND m.rn > k.rn
       AND (m.x - k.x) * (m.x - k.x) + (m.y - k.y) * (m.y - k.y)
           >= {SIMPLIFY_EPS}::BIGINT * {SIMPLIFY_EPS}
   )
)
SELECT entity, rn, x, y FROM kept
"""


REGISTRY.update({"simplify_radial": (q_simplify_radial, O_SIMPLIFY_RADIAL)})



ST_CUBE_RES = 5


def q_st_cube(spark, sf_dir):
    """Space-time CUBE (operators/tiling.py ``st_cube``): event counts
    over all 8 grouping sets of (tile res-5, arithmetic day-of-week,
    hour) in one scan — gates Spark's cube() expansion against ANSI
    GROUP BY CUBE."""
    from ..operators.tiling import st_cube

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev.createOrReplaceTempView("__cube_events")
    t = spark.sql(
        f"SELECT ts, {TRAJ_LAT_SQL} AS lat, {TRAJ_LON_SQL} AS lon "
        "FROM __cube_events"
    )
    return st_cube(t, res=ST_CUBE_RES)


_STN = 1 << ST_CUBE_RES

O_ST_CUBE = f"""
WITH src AS (
  SELECT CAST(floor(epoch(ts)) AS BIGINT) AS ep,
         {TRAJ_LAT_SQL} AS lat, {TRAJ_LON_SQL} AS lon
  FROM events
),
keyed AS (
  SELECT LEAST(GREATEST(CAST(FLOOR((lon + 180.0) / CAST(360.0 AS DOUBLE) * {_STN}.0)
                 AS BIGINT), 0), {_STN - 1}) * {_STN}
       + LEAST(GREATEST(CAST(FLOOR((lat + 90.0) / CAST(180.0 AS DOUBLE) * {_STN}.0)
                 AS BIGINT), 0), {_STN - 1}) AS tile,
         (ep // 86400 + 4) % 7 AS dow,
         (ep % 86400) // 3600 AS hour
  FROM src
)
SELECT tile, dow, hour, count(*) AS n
FROM keyed GROUP BY CUBE (tile, dow, hour)
"""


REGISTRY.update({"st_cube": (q_st_cube, O_ST_CUBE)})



GI_RES, GI_K = 8, 2


def q_hotspot_gi(spark, sf_dir):
    """Getis-Ord Gi* hotspots (operators/spatial.py ``getis_gi``): exact
    rational z^2 with sign per k-dilated occupied cell — histogram-only
    plan, DECIMAL(38,0)/HUGEINT algebra like moran_i/gearys_c."""
    from ..operators.spatial import getis_gi

    return getis_gi(geo_points(spark, sf_dir), res=GI_RES, k=GI_K)


O_HOTSPOT_GI = """
WITH {PTS_CTE},
occ AS (
  SELECT LEAST(GREATEST(CAST(FLOOR((lon + 180.0) / CAST(360.0 AS DOUBLE) * 256.0)
                 AS BIGINT), 0), 255) AS ix,
         LEAST(GREATEST(CAST(FLOOR((lat + 90.0) / CAST(180.0 AS DOUBLE) * 256.0)
                 AS BIGINT), 0), 255) AS iy,
         count(*) AS cnt
  FROM pts GROUP BY 1, 2
),
base AS (
  SELECT CAST(sum(cnt) AS HUGEINT) AS s,
         CAST(sum(cnt * cnt) AS HUGEINT) AS q
  FROM occ
),
fan AS (
  SELECT ix + dx.i AS tx, iy + dy.i AS ty, cnt
  FROM occ
  CROSS JOIN generate_series(-2, 2) dx(i)
  CROSS JOIN generate_series(-2, 2) dy(i)
  WHERE ix + dx.i BETWEEN 0 AND 255
    AND iy + dy.i BETWEEN 0 AND 255
),
ring AS (
  SELECT CAST(tx * 256 + ty AS BIGINT) AS tile,
         CAST(SUM(cnt) AS BIGINT) AS ring_sum,
         CAST((LEAST(tx + 2, 255) - GREATEST(tx - 2, 0) + 1)
            * (LEAST(ty + 2, 255) - GREATEST(ty - 2, 0) + 1)
              AS BIGINT) AS n_ring
  FROM fan GROUP BY 1, 3
),
-- a (~1e10) and v (~1e14) each fit a double EXACTLY; the ~1e23 full
-- products do not, and HUGEINT->double vs Spark DECIMAL->double round
-- differently at the ulp. So the final products happen IN doubles with
-- the identical left-associated tree on both engines.
alg AS (
  SELECT tile, ring_sum, n_ring,
         CAST(65536 AS HUGEINT) * ring_sum
           - CAST(n_ring AS HUGEINT) * s AS a,
         CAST(65536 AS HUGEINT) * q - s * s AS v
  FROM ring, base
)
SELECT tile, ring_sum, n_ring,
       CAST(a AS DOUBLE) * CAST(a AS DOUBLE) * 65535.0 AS num,
       CAST(v AS DOUBLE) * CAST(n_ring AS DOUBLE)
         * (65536.0 - CAST(n_ring AS DOUBLE)) AS den,
       (CAST(a AS DOUBLE) * CAST(a AS DOUBLE) * 65535.0)
         / (CAST(v AS DOUBLE) * CAST(n_ring AS DOUBLE)
            * (65536.0 - CAST(n_ring AS DOUBLE))) AS gi2,
       CAST(CASE WHEN a > 0 THEN 1 WHEN a < 0 THEN -1 ELSE 0 END AS INT) AS hot
FROM alg
""".format(PTS_CTE=PTS_CTE)


REGISTRY.update({"hotspot_gi": (q_hotspot_gi, O_HOTSPOT_GI)})



def q_zone_concurrency(spark, sf_dir):
    """Sweep-line zone concurrency (operators/spatial.py
    ``zone_concurrency``): max simultaneous visitors, occupied wall
    time, and the visitor-seconds integral per zone from the
    zone_visits intervals — one +1/-1 event per endpoint, no per-hour
    explode. Open visits close at the decayed-heatmap anchor."""
    from ..operators.spatial import zone_concurrency, zone_visits

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev.createOrReplaceTempView("__zc_events")
    t = spark.sql(
        f"SELECT user_id, ts, event_id, {TRAJ_LAT_SQL} AS lat, "
        f"{TRAJ_LON_SQL} AS lon FROM __zc_events"
    )
    visits = zone_visits(
        t, geo_polygons_df(spark), "user_id", "ts", res=8,
        order_tiebreak="event_id",
    )
    return zone_concurrency(visits, horizon_epoch=DECAY_ANCHOR)


O_ZONE_CONCURRENCY = f"""
WITH visits AS ({O_ZONE_VISITS}),
ev AS (
  SELECT zone, CAST(floor(epoch(enter_ts)) AS BIGINT) AS ts, 1 AS delta
  FROM visits
  UNION ALL
  SELECT zone,
         COALESCE(CAST(floor(epoch(exit_ts)) AS BIGINT), {DECAY_ANCHOR}) AS ts,
         -1 AS delta
  FROM visits
),
run AS (
  SELECT zone, ts, delta,
         CAST(sum(delta) OVER w AS BIGINT) AS running,
         COALESCE(lead(ts) OVER w - ts, 0) AS seg_len
  FROM ev
  WINDOW w AS (PARTITION BY zone ORDER BY ts, delta
               ROWS UNBOUNDED PRECEDING)
)
SELECT zone, CAST(count(*) // 2 AS BIGINT) AS n_visits,
       CAST(max(running) AS BIGINT) AS max_concurrent,
       CAST(SUM(CASE WHEN running > 0 THEN seg_len ELSE 0 END) AS BIGINT)
         AS occupied_seconds,
       CAST(SUM(running * seg_len) AS BIGINT) AS user_seconds
FROM run GROUP BY 1
"""


REGISTRY.update({"zone_concurrency": (q_zone_concurrency, O_ZONE_CONCURRENCY)})



SHARD_RES, SHARD_SHIFT, SHARD_BUDGET = 8, 10, 65536


def _o_image_shard() -> str:
    from ..functions.cells import hilbert_level_exprs

    n = 1 << SHARD_RES
    ctes = [
        f"""v AS (
  SELECT image_id, CAST(octet_length(bytes) AS BIGINT) AS size_bytes, lat, lon
  FROM read_parquet('{SYNTH_SF001_IMAGES}')
)""",
        f"h0 AS (SELECT image_id, size_bytes,\n"
        f"  CAST(least(greatest(floor((lon + 180.0) / 360.0 * {n}.0), 0), {n - 1}) AS BIGINT) AS x,\n"
        f"  CAST(least(greatest(floor((lat + 90.0) / 180.0 * {n}.0), 0), {n - 1}) AS BIGINT) AS y,\n"
        f"  0 AS d FROM v)",
    ]
    lvl = 0
    s = n >> 1
    while s > 0:
        dinc, xn, yn = hilbert_level_exprs(s, n, "x", "y")
        ctes.append(
            f"h{lvl + 1} AS (SELECT image_id, size_bytes, {xn} AS x, {yn} AS y, "
            f"d + {dinc} AS d FROM h{lvl})"
        )
        lvl += 1
        s >>= 1
    return (
        "WITH " + ",\n".join(ctes) + f""",
keyed AS (
  SELECT image_id, size_bytes, CAST(d AS BIGINT) AS hkey,
         CAST(d AS BIGINT) // {1 << SHARD_SHIFT} AS bucket
  FROM h{lvl}
),
packed AS (
  SELECT image_id, hkey, bucket, size_bytes,
         sum(size_bytes) OVER (PARTITION BY bucket ORDER BY hkey, image_id
                               ROWS UNBOUNDED PRECEDING) AS cum
  FROM keyed
)
SELECT image_id, hkey, bucket, size_bytes,
       CAST(bucket * 4294967296 + (cum - 1) // {SHARD_BUDGET} AS BIGINT) AS shard_id
FROM packed"""
    )


def q_image_shard_pack(spark, sf_dir):
    """Hilbert-local byte-budgeted shard assignment (operators/
    sampling.py ``image_shard_pack``) over the image table: buckets are
    contiguous curve ranges (connected regions), packing is one window
    per bucket — the geo-aware training-shard writer plan. Oracle
    chains the identical per-level Hilbert expressions and the same
    window cumsum."""
    from ..operators.sampling import image_shard_pack

    return image_shard_pack(
        _synth_images(spark, sf_dir), res=SHARD_RES,
        bucket_shift=SHARD_SHIFT, budget=SHARD_BUDGET,
    )


O_IMAGE_SHARD_PACK = _o_image_shard()


REGISTRY.update({"image_shard_pack": (q_image_shard_pack, O_IMAGE_SHARD_PACK)})



def q_ivf_pq_ann(spark, sf_dir):
    """IVF-PQ composite ANN (operators/similarity.py ``ivf_pq_ann_topk``):
    coarse-list probing bounds the candidate set, PQ asymmetric distance
    scores it — the faiss IVFxPQy default as a Spark plan. Both
    deterministic trainings are replayed verbatim in the oracle."""
    from ..operators.similarity import ivf_pq_ann_topk

    return ivf_pq_ann_topk(spark.read.parquet(f"{sf_dir}/embeddings.parquet"))


O_IVF_PQ_ANN = f"""
WITH {_o_pq()},
ivfc AS (SELECT vec_id AS centroid_id, d, xq AS cvq FROM flat WHERE vec_id < 16),
ivfl2 AS (
  SELECT f.vec_id, c.centroid_id, sum((f.xq - c.cvq) * (f.xq - c.cvq)) AS l2q
  FROM flat f JOIN ivfc c USING (d)
  GROUP BY 1, 2
),
assigned AS (
  SELECT vec_id, centroid_id FROM (
    SELECT vec_id, centroid_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY l2q ASC, centroid_id ASC) AS rn
    FROM ivfl2) t WHERE rn = 1
),
probes AS (
  SELECT vec_id AS query_id, centroid_id FROM (
    SELECT vec_id, centroid_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY l2q ASC, centroid_id ASC) AS rn
    FROM ivfl2 WHERE vec_id % 50 = 0) t WHERE rn <= 8
),
cand AS (
  SELECT p.query_id, a.vec_id AS neighbor_id
  FROM probes p JOIN assigned a USING (centroid_id)
  WHERE a.vec_id <> p.query_id
),
qd AS (
  SELECT f.vec_id AS query_id, f.s, c.code,
         sum((f.xq - c.cq) * (f.xq - c.cq)) AS qd
  FROM sub f JOIN c2 c ON c.s = f.s AND c.ds = f.ds
  WHERE f.vec_id % 50 = 0 GROUP BY 1, 2, 3
),
adc AS (
  SELECT cd.query_id, cd.neighbor_id, CAST(sum(q.qd) AS BIGINT) AS adc
  FROM cand cd
  JOIN af a ON a.vec_id = cd.neighbor_id
  JOIN qd q ON q.query_id = cd.query_id AND q.s = a.s AND q.code = a.code
  GROUP BY 1, 2
),
ranked AS (
  SELECT query_id, neighbor_id, adc,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY adc ASC, neighbor_id ASC) AS rank
  FROM adc
)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, adc
FROM ranked WHERE rank <= 5
"""


REGISTRY.update({"embedding_ivf_pq_ann": (q_ivf_pq_ann, O_IVF_PQ_ANN)})


def q_ivf_pq_rescored(spark, sf_dir):
    """IVF-PQ with exact re-ranking (operators/similarity.py
    ``ivf_pq_ann_rescored``, the faiss IVFPQR composite): probe -> ADC
    shortlist of 50 -> exact quantized-dot rescore of the shortlist only,
    top-5 by dot. Raw ADC recall is ceiling-bound by the 32-bit code
    budget; this is the deployment shape whose recall the clustered
    fixture floors pin (tests/test_round7_fixes.py)."""
    from ..operators.similarity import ivf_pq_ann_rescored

    return ivf_pq_ann_rescored(spark.read.parquet(f"{sf_dir}/embeddings.parquet"))


O_IVF_PQ_RESCORED = f"""
WITH {_o_pq()},
ivfc AS (SELECT vec_id AS centroid_id, d, xq AS cvq FROM flat WHERE vec_id < 16),
ivfl2 AS (
  SELECT f.vec_id, c.centroid_id, sum((f.xq - c.cvq) * (f.xq - c.cvq)) AS l2q
  FROM flat f JOIN ivfc c USING (d)
  GROUP BY 1, 2
),
assigned AS (
  SELECT vec_id, centroid_id FROM (
    SELECT vec_id, centroid_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY l2q ASC, centroid_id ASC) AS rn
    FROM ivfl2) t WHERE rn = 1
),
probes AS (
  SELECT vec_id AS query_id, centroid_id FROM (
    SELECT vec_id, centroid_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY l2q ASC, centroid_id ASC) AS rn
    FROM ivfl2 WHERE vec_id % 50 = 0) t WHERE rn <= 8
),
cand AS (
  SELECT p.query_id, a.vec_id AS neighbor_id
  FROM probes p JOIN assigned a USING (centroid_id)
  WHERE a.vec_id <> p.query_id
),
qd AS (
  SELECT f.vec_id AS query_id, f.s, c.code,
         sum((f.xq - c.cq) * (f.xq - c.cq)) AS qd
  FROM sub f JOIN c2 c ON c.s = f.s AND c.ds = f.ds
  WHERE f.vec_id % 50 = 0 GROUP BY 1, 2, 3
),
adc AS (
  SELECT cd.query_id, cd.neighbor_id, CAST(sum(q.qd) AS BIGINT) AS adc
  FROM cand cd
  JOIN af a ON a.vec_id = cd.neighbor_id
  JOIN qd q ON q.query_id = cd.query_id AND q.s = a.s AND q.code = a.code
  GROUP BY 1, 2
),
short AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY adc ASC, neighbor_id ASC) AS rn
    FROM adc) t WHERE rn <= 50
),
dots AS (
  SELECT s.query_id, s.neighbor_id, CAST(sum(qf.xq * nf.xq) AS BIGINT) AS dot
  FROM short s
  JOIN flat qf ON qf.vec_id = s.query_id
  JOIN flat nf ON nf.vec_id = s.neighbor_id AND nf.d = qf.d
  GROUP BY 1, 2
),
ranked AS (
  SELECT query_id, neighbor_id, dot,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY dot DESC, neighbor_id ASC) AS rank
  FROM dots
)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, dot
FROM ranked WHERE rank <= 5
"""


REGISTRY.update(
    {"embedding_ivf_pq_rescored": (q_ivf_pq_rescored, O_IVF_PQ_RESCORED)}
)



def q_idw_loo(spark, sf_dir):
    """Leave-one-out IDW cross-validation (operators/spatial.py
    ``idw_loo_validate``): every 13th point re-estimated from its other
    in-radius neighbors, per-point absolute error — the interpolation-
    quality audit with the same integer weights as the idw gate. The
    % 13 thinning bounds the quadratic oracle at sf0.1."""
    from ..operators.spatial import idw_loo_validate

    pts = geo_points(spark, sf_dir).filter(F.col("point_id") % 13 == 0)
    return idw_loo_validate(
        pts.withColumn("val", F.expr("point_id % 1000")),
        radius=0.3, value_col="val",
    )


O_IDW_LOO = f"""
WITH {PTS_CTE},
src AS (SELECT point_id, lat, lon, point_id % 1000 AS v
        FROM pts WHERE point_id % 13 = 0),
pairs AS (
  SELECT t.point_id AS target_id, q.v,
         CAST({10**12} AS BIGINT)
           // (1 + CAST(floor(((q.lat - t.lat) * (q.lat - t.lat)
                + (q.lon - t.lon) * (q.lon - t.lon)) * 1000000000.0)
               AS BIGINT)) AS w
  FROM src q JOIN src t
    ON q.point_id <> t.point_id
   AND (q.lat - t.lat) * (q.lat - t.lat) + (q.lon - t.lon) * (q.lon - t.lon)
       <= 0.3 * 0.3
),
agg AS (
  SELECT target_id, CAST(count(*) AS BIGINT) AS n_src,
         CAST(SUM(w * v) AS BIGINT) AS num, CAST(SUM(w) AS BIGINT) AS den
  FROM pairs GROUP BY 1
)
SELECT s.point_id AS target_id, COALESCE(a.n_src, 0) AS n_src, a.num, a.den,
       CAST(a.num AS DOUBLE) / CAST(a.den AS DOUBLE) AS est,
       CAST(s.v AS BIGINT) AS true_val,
       ABS(CAST(a.num AS DOUBLE) / CAST(a.den AS DOUBLE)
           - CAST(s.v AS DOUBLE)) AS abs_err
FROM src s LEFT JOIN agg a ON a.target_id = s.point_id
"""


REGISTRY.update({"idw_loo": (q_idw_loo, O_IDW_LOO)})



def q_patch_tile_map(spark, sf_dir):
    """Patch-to-subtile geo mapping (operators/images.py
    ``patch_tile_map``): every ViT patch of every image mapped to the
    res-10 child tile containing its center — metadata arithmetic only,
    the scan reads (w, h, lat, lon) and never bytes."""
    from ..operators.images import patch_tile_map

    return patch_tile_map(_synth_images(spark, sf_dir))


O_PATCH_TILE_MAP = f"""
WITH img AS (
  SELECT image_id, h // 8 AS nr, w // 8 AS nc,
         LEAST(GREATEST(CAST(FLOOR((lon + 180.0) / CAST(360.0 AS DOUBLE) * 256.0)
                 AS BIGINT), 0), 255) AS ix,
         LEAST(GREATEST(CAST(FLOOR((lat + 90.0) / CAST(180.0 AS DOUBLE) * 256.0)
                 AS BIGINT), 0), 255) AS iy
  FROM read_parquet('{SYNTH_SF001_IMAGES}')
  WHERE h // 8 >= 1 AND w // 8 >= 1
),
grid AS (
  SELECT i.image_id, i.nr, i.nc, i.ix, i.iy, pr.p AS patch_row, pc.p AS patch_col
  FROM img i
  JOIN generate_series(0, 127) pr(p) ON pr.p < i.nr
  JOIN generate_series(0, 127) pc(p) ON pc.p < i.nc
)
SELECT image_id, CAST(patch_row AS INT) AS patch_row,
       CAST(patch_col AS INT) AS patch_col,
       CAST(ix * 256 + iy AS BIGINT) AS tile,
       CAST((ix * 4 + ((2 * patch_col + 1) * 4) // (2 * nc)) * 1024
            + iy * 4 + (3 - ((2 * patch_row + 1) * 4) // (2 * nr))
            AS BIGINT) AS subtile
FROM grid
"""


REGISTRY.update({"patch_tile_map": (q_patch_tile_map, O_PATCH_TILE_MAP)})



SSSP_HOPS, SSSP_SOURCE = 8, 7


def q_shortest_paths(spark, sf_dir):
    """Hop-bounded single-source shortest paths (operators/graphs.py
    ``bounded_shortest_paths``) over the 3-nearest-neighbor graph of the
    id % 7 feature subset: Bellman-Ford as frontier-pruned DataFrame
    rounds, integer micro-degree^2 weights. Edges come from the gated
    kNN join (k=4 including the guaranteed-rank-1 self, then dropped —
    every fixture location is distinct at all tiers). The oracle walks
    all <= 8-edge paths with a recursive CTE and takes the min."""
    from pyspark.sql import Window

    from ..operators.graphs import bounded_shortest_paths
    from ..operators.knn import knn_join

    feats = geo_features(spark, sf_dir).filter(F.col("id") % 7 == 0)
    pts = feats.select(F.col("id").alias("point_id"), "lat", "lon")
    nn = knn_join(
        pts, feats, k=4, res=7, point_id="point_id", feature_id="id"
    ).filter(F.col("point_id") != F.col("neighbor_id"))
    w3 = Window.partitionBy("point_id").orderBy(F.col("rank").asc())
    edges = (
        nn.withColumn("__rn", F.row_number().over(w3))
        .filter(F.col("__rn") <= 3)
        .select(F.col("point_id").alias("src"), F.col("neighbor_id").alias("dst"))
    )
    a = feats.select(F.col("id").alias("src"), F.col("lat").alias("__alat"),
                     F.col("lon").alias("__alon"))
    b = feats.select(F.col("id").alias("dst"), F.col("lat").alias("__blat"),
                     F.col("lon").alias("__blon"))
    wq = F.floor(
        (
            (F.col("__alat") - F.col("__blat")) * (F.col("__alat") - F.col("__blat"))
            + (F.col("__alon") - F.col("__blon")) * (F.col("__alon") - F.col("__blon"))
        ) * F.lit(1000000000.0)
    ).cast("long")
    weighted = edges.join(F.broadcast(a), "src").join(F.broadcast(b), "dst").select(
        "src", "dst", wq.alias("w")
    )
    return bounded_shortest_paths(weighted, source=SSSP_SOURCE, hops=SSSP_HOPS)


O_SHORTEST_PATHS = f"""
WITH RECURSIVE {FEATS_CTE},
f7 AS (SELECT id, lat, lon FROM feats WHERE id % 7 = 0),
dmat AS (
  SELECT a.id AS src, b.id AS dst,
         (a.lat - b.lat) * (a.lat - b.lat)
           + (a.lon - b.lon) * (a.lon - b.lon) AS dd,
         row_number() OVER (PARTITION BY a.id ORDER BY
           (a.lat - b.lat) * (a.lat - b.lat)
             + (a.lon - b.lon) * (a.lon - b.lon) ASC, b.id ASC) AS rank
  FROM f7 a JOIN f7 b ON a.id <> b.id
),
edges AS (
  SELECT src, dst, CAST(floor(dd * 1000000000.0) AS BIGINT) AS w
  FROM dmat WHERE rank <= 3
),
walk AS (
  SELECT CAST({SSSP_SOURCE} AS BIGINT) AS node, CAST(0 AS BIGINT) AS dist,
         0 AS depth
  UNION ALL
  SELECT e.dst, wk.dist + e.w, wk.depth + 1
  FROM walk wk JOIN edges e ON e.src = wk.node
  WHERE wk.depth < {SSSP_HOPS}
)
SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM walk GROUP BY 1
"""


REGISTRY.update({"shortest_paths": (q_shortest_paths, O_SHORTEST_PATHS)})



def q_triangle_counts(spark, sf_dir):
    """Per-node triangle participation (operators/graphs.py
    ``triangle_counts``) over the undirected 3-NN graph of the id % 7
    feature subset — same edge fixture as shortest_paths; ordered-wedge
    enumeration finds each triangle exactly once."""
    from pyspark.sql import Window

    from ..operators.graphs import triangle_counts
    from ..operators.knn import knn_join

    feats = geo_features(spark, sf_dir).filter(F.col("id") % 7 == 0)
    pts = feats.select(F.col("id").alias("point_id"), "lat", "lon")
    nn = knn_join(
        pts, feats, k=4, res=7, point_id="point_id", feature_id="id"
    ).filter(F.col("point_id") != F.col("neighbor_id"))
    w3 = Window.partitionBy("point_id").orderBy(F.col("rank").asc())
    edges = (
        nn.withColumn("__rn", F.row_number().over(w3))
        .filter(F.col("__rn") <= 3)
        .select(F.col("point_id").alias("src"), F.col("neighbor_id").alias("dst"))
    )
    return triangle_counts(edges)


O_TRIANGLE_COUNTS = f"""
WITH {FEATS_CTE},
f7 AS (SELECT id, lat, lon FROM feats WHERE id % 7 = 0),
dmat AS (
  SELECT a.id AS src, b.id AS dst,
         row_number() OVER (PARTITION BY a.id ORDER BY
           (a.lat - b.lat) * (a.lat - b.lat)
             + (a.lon - b.lon) * (a.lon - b.lon) ASC, b.id ASC) AS rank
  FROM f7 a JOIN f7 b ON a.id <> b.id
),
und AS (
  SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
  FROM dmat WHERE rank <= 3
),
tri AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM und e1
  JOIN und e2 ON e2.a = e1.b
  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
),
roles AS (
  SELECT x AS node FROM tri
  UNION ALL SELECT y FROM tri
  UNION ALL SELECT z FROM tri
)
SELECT node, count(*) AS n_tri FROM roles GROUP BY 1
"""


REGISTRY.update({"triangle_counts": (q_triangle_counts, O_TRIANGLE_COUNTS)})



def q_stream_tile_cap(spark, sf_dir):
    """Streaming-vs-batch parity for per-tile cap sampling
    (streaming/microbatch.py ``stream_tile_cap``): the point fixture
    staged as 3 micro-batches through the monotone bounded reservoir
    (state <= cap (hash, id) pairs per tile); the flattened final state
    must equal batch tile_cap_sample — same oracle SQL."""
    from ..streaming.microbatch import run_tile_cap_stream_once

    return _run_staged_stream(
        geo_points(spark, sf_dir),
        lambda src, ckpt: run_tile_cap_stream_once(spark, src, ckpt, res=8, cap=3),
    )


REGISTRY.update({"stream_tile_cap": (q_stream_tile_cap, O_TILE_CAP)})



def q_clustering_coeff(spark, sf_dir):
    """Local clustering coefficients (operators/graphs.py
    ``clustering_coefficients``) over the 3-NN feature graph: exact
    (tri, deg) integers + the single float division; degree-1 nodes
    coeff 0 by convention."""
    from pyspark.sql import Window

    from ..operators.graphs import clustering_coefficients
    from ..operators.knn import knn_join

    feats = geo_features(spark, sf_dir).filter(F.col("id") % 7 == 0)
    pts = feats.select(F.col("id").alias("point_id"), "lat", "lon")
    nn = knn_join(
        pts, feats, k=4, res=7, point_id="point_id", feature_id="id"
    ).filter(F.col("point_id") != F.col("neighbor_id"))
    w3 = Window.partitionBy("point_id").orderBy(F.col("rank").asc())
    edges = (
        nn.withColumn("__rn", F.row_number().over(w3))
        .filter(F.col("__rn") <= 3)
        .select(F.col("point_id").alias("src"), F.col("neighbor_id").alias("dst"))
    )
    return clustering_coefficients(edges)


O_CLUSTERING_COEFF = f"""
WITH {FEATS_CTE},
f7 AS (SELECT id, lat, lon FROM feats WHERE id % 7 = 0),
dmat AS (
  SELECT a.id AS src, b.id AS dst,
         row_number() OVER (PARTITION BY a.id ORDER BY
           (a.lat - b.lat) * (a.lat - b.lat)
             + (a.lon - b.lon) * (a.lon - b.lon) ASC, b.id ASC) AS rank
  FROM f7 a JOIN f7 b ON a.id <> b.id
),
und AS (
  SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
  FROM dmat WHERE rank <= 3
),
deg AS (
  SELECT node, count(*) AS deg FROM (
    SELECT a AS node FROM und UNION ALL SELECT b FROM und
  ) r GROUP BY 1
),
tri AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM und e1
  JOIN und e2 ON e2.a = e1.b
  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
),
ntri AS (
  SELECT node, count(*) AS n_tri FROM (
    SELECT x AS node FROM tri
    UNION ALL SELECT y FROM tri
    UNION ALL SELECT z FROM tri
  ) r GROUP BY 1
)
SELECT d.node, d.deg, COALESCE(t.n_tri, 0) AS n_tri,
       CASE WHEN d.deg >= 2
            THEN (2.0 * CAST(COALESCE(t.n_tri, 0) AS DOUBLE))
                 / (CAST(d.deg AS DOUBLE) * CAST(d.deg - 1 AS DOUBLE))
            ELSE 0.0 END AS coeff
FROM deg d LEFT JOIN ntri t ON t.node = d.node
"""


REGISTRY.update({"clustering_coeff": (q_clustering_coeff, O_CLUSTERING_COEFF)})


RET_RES = 6


def q_tile_retention(spark, sf_dir):
    """Day-over-day tile visitor retention (operators/tiling.py
    ``tile_retention``): per (tile, epoch-day), distinct visitors and
    how many return to the same tile the next day — one distinct on the
    presence set, one self equi-join shifted by a day, one rollup."""
    from ..operators.tiling import tile_retention

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev.createOrReplaceTempView("__ret_events")
    t = spark.sql(
        f"SELECT user_id, ts, {TRAJ_LAT_SQL} AS lat, {TRAJ_LON_SQL} AS lon "
        "FROM __ret_events"
    )
    return tile_retention(t, res=RET_RES)


_RETN = 1 << RET_RES

O_TILE_RETENTION = f"""
WITH src AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ep,
         {TRAJ_LAT_SQL} AS lat, {TRAJ_LON_SQL} AS lon
  FROM events
),
pres AS (
  SELECT DISTINCT
    LEAST(GREATEST(CAST(FLOOR((lon + 180.0) / CAST(360.0 AS DOUBLE) * {_RETN}.0)
            AS BIGINT), 0), {_RETN - 1}) * {_RETN}
  + LEAST(GREATEST(CAST(FLOOR((lat + 90.0) / CAST(180.0 AS DOUBLE) * {_RETN}.0)
            AS BIGINT), 0), {_RETN - 1}) AS tile,
    ep // 86400 AS day, user_id AS entity
  FROM src
)
SELECT p.tile, p.day, count(*) AS n_users,
       CAST(SUM(CASE WHEN n.entity IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_retained,
       CAST(1000 * SUM(CASE WHEN n.entity IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) // count(*) AS retained_milli
FROM pres p
LEFT JOIN pres n
  ON n.tile = p.tile AND n.entity = p.entity AND n.day = p.day + 1
GROUP BY 1, 2
"""


REGISTRY.update({"tile_retention": (q_tile_retention, O_TILE_RETENTION)})



ANOM_RES, ANOM_WIN = 6, 7


def q_tile_anomaly(spark, sf_dir):
    """Per-tile daily volume anomaly vs trailing mean (operators/
    tiling.py ``tile_anomaly``): integer cross-multiplied per-mille
    excess against the preceding 7 observed days; NULL with no history.
    One histogram shuffle + one history-sized window."""
    from ..operators.tiling import tile_anomaly

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev.createOrReplaceTempView("__anom_events")
    t = spark.sql(
        f"SELECT ts, {TRAJ_LAT_SQL} AS lat, {TRAJ_LON_SQL} AS lon "
        "FROM __anom_events"
    )
    return tile_anomaly(t, res=ANOM_RES, window_days=ANOM_WIN)


_ANOMN = 1 << ANOM_RES

O_TILE_ANOMALY = f"""
WITH src AS (
  SELECT CAST(floor(epoch(ts)) AS BIGINT) AS ep,
         {TRAJ_LAT_SQL} AS lat, {TRAJ_LON_SQL} AS lon
  FROM events
),
hist AS (
  SELECT LEAST(GREATEST(CAST(FLOOR((lon + 180.0) / CAST(360.0 AS DOUBLE) * {_ANOMN}.0)
            AS BIGINT), 0), {_ANOMN - 1}) * {_ANOMN}
       + LEAST(GREATEST(CAST(FLOOR((lat + 90.0) / CAST(180.0 AS DOUBLE) * {_ANOMN}.0)
            AS BIGINT), 0), {_ANOMN - 1}) AS tile,
         ep // 86400 AS day, count(*) AS cnt
  FROM src GROUP BY 1, 2
),
t AS (
  SELECT tile, day, cnt,
         COALESCE(CAST(SUM(cnt) OVER w AS BIGINT), 0) AS prev_sum,
         CAST(COUNT(cnt) OVER w AS BIGINT) AS n_prev
  FROM hist
  WINDOW w AS (PARTITION BY tile ORDER BY day
               ROWS BETWEEN {ANOM_WIN} PRECEDING AND 1 PRECEDING)
)
SELECT tile, day, cnt, prev_sum, n_prev,
       CASE WHEN n_prev > 0
            THEN CAST(1000 * (cnt * n_prev - prev_sum) AS BIGINT) // prev_sum
       END AS excess_milli
FROM t
"""


REGISTRY.update({"tile_anomaly": (q_tile_anomaly, O_TILE_ANOMALY)})


HOME_RES = 6


def q_user_home_tile(spark, sf_dir):
    """Home-location inference (operators/tiling.py ``user_home_tile``):
    modal tile per user (ties -> smaller key) with exact per-mille
    share — one histogram + one struct-max pass, no window."""
    from ..operators.tiling import user_home_tile

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev.createOrReplaceTempView("__home_events")
    t = spark.sql(
        f"SELECT user_id, {TRAJ_LAT_SQL} AS lat, {TRAJ_LON_SQL} AS lon "
        "FROM __home_events"
    )
    return user_home_tile(t, res=HOME_RES)


_HOMEN = 1 << HOME_RES

O_USER_HOME_TILE = f"""
WITH src AS (
  SELECT user_id, {TRAJ_LAT_SQL} AS lat, {TRAJ_LON_SQL} AS lon FROM events
),
hist AS (
  SELECT user_id AS entity,
         LEAST(GREATEST(CAST(FLOOR((lon + 180.0) / CAST(360.0 AS DOUBLE) * {_HOMEN}.0)
            AS BIGINT), 0), {_HOMEN - 1}) * {_HOMEN}
       + LEAST(GREATEST(CAST(FLOOR((lat + 90.0) / CAST(180.0 AS DOUBLE) * {_HOMEN}.0)
            AS BIGINT), 0), {_HOMEN - 1}) AS tile,
         count(*) AS cnt
  FROM src GROUP BY 1, 2
),
pick AS (
  SELECT entity, tile AS home_tile, cnt AS home_visits,
         row_number() OVER (PARTITION BY entity
                            ORDER BY cnt DESC, tile ASC) AS rn,
         CAST(SUM(cnt) OVER (PARTITION BY entity) AS BIGINT) AS n_events
  FROM hist
)
SELECT entity, home_tile, home_visits, n_events,
       CAST(1000 * home_visits AS BIGINT) // n_events AS home_milli
FROM pick WHERE rn = 1
"""


REGISTRY.update({"user_home_tile": (q_user_home_tile, O_USER_HOME_TILE)})


COVIS_RES, COVIS_MIN = 5, 3


def q_co_visitation(spark, sf_dir):
    """Co-visitation contact pairs (operators/tiling.py
    ``co_visitation``): user pairs sharing a res-5 tile on >= 3 distinct
    days — the within-(tile, day) self-join never crosses cell-day
    boundaries."""
    from ..operators.tiling import co_visitation

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev.createOrReplaceTempView("__covis_events")
    t = spark.sql(
        f"SELECT user_id, ts, {TRAJ_LAT_SQL} AS lat, {TRAJ_LON_SQL} AS lon "
        "FROM __covis_events"
    )
    return co_visitation(t, res=COVIS_RES, min_days=COVIS_MIN)


_COVN = 1 << COVIS_RES

O_CO_VISITATION = f"""
WITH src AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ep,
         {TRAJ_LAT_SQL} AS lat, {TRAJ_LON_SQL} AS lon
  FROM events
),
pres AS (
  SELECT DISTINCT
    LEAST(GREATEST(CAST(FLOOR((lon + 180.0) / CAST(360.0 AS DOUBLE) * {_COVN}.0)
            AS BIGINT), 0), {_COVN - 1}) * {_COVN}
  + LEAST(GREATEST(CAST(FLOOR((lat + 90.0) / CAST(180.0 AS DOUBLE) * {_COVN}.0)
            AS BIGINT), 0), {_COVN - 1}) AS tile,
    ep // 86400 AS day, user_id AS entity
  FROM src
),
pairs AS (
  SELECT DISTINCT p.entity AS a, q.entity AS b, p.day
  FROM pres p JOIN pres q
    ON q.tile = p.tile AND q.day = p.day AND p.entity < q.entity
)
SELECT a, b, CAST(count(*) AS BIGINT) AS n_codays
FROM pairs GROUP BY 1, 2 HAVING count(*) >= {COVIS_MIN}
"""


REGISTRY.update({"co_visitation": (q_co_visitation, O_CO_VISITATION)})



def q_geo_split_report(spark, sf_dir):
    """Split-balance audit for the spatially disjoint split: per split,
    point and tile counts with exact per-mille shares — the check the
    geo_split docstring tells users to run (cell-hashing makes
    proportions lumpy; this is the lumpiness, quantified)."""
    from ..operators.sampling import geo_split

    s = geo_split(geo_points(spark, sf_dir), res=GEO_SPLIT_RES)
    total = s.count()  # scalar gate, fixture-scale
    return s.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_points"),
        F.countDistinct("tile").alias("n_tiles"),
        F.expr(f"CAST(1000 * count(1) AS BIGINT) div {total}").alias("share_milli"),
    )


O_GEO_SPLIT_REPORT = f"""
WITH s AS ({O_GEO_SPLIT})
SELECT split, count(*) AS n_points,
       CAST(count(DISTINCT tile) AS BIGINT) AS n_tiles,
       CAST(1000 * count(*) AS BIGINT) // (SELECT count(*) FROM s) AS share_milli
FROM s GROUP BY 1
"""


REGISTRY.update({"geo_split_report": (q_geo_split_report, O_GEO_SPLIT_REPORT)})


PERSIST_THRESH, PERSIST_DAYS = 20, 5


def q_hotspot_persistence(spark, sf_dir):
    """Persistent-hotspot extraction: tiles whose daily count reached
    the threshold on >= PERSIST_DAYS distinct days — separates standing
    dense areas from one-off bursts (the complement of tile_anomaly's
    day-level signal). Histogram + one filter + one rollup."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev.createOrReplaceTempView("__pers_events")
    t = spark.sql(
        f"SELECT ts, {TRAJ_LAT_SQL} AS lat, {TRAJ_LON_SQL} AS lon "
        "FROM __pers_events"
    )
    n = 1 << ANOM_RES
    fx = F.floor((F.col("lon") + F.lit(180.0)) / F.lit(360.0) * F.lit(float(n)))
    fy = F.floor((F.col("lat") + F.lit(90.0)) / F.lit(180.0) * F.lit(float(n)))
    tile = (
        F.least(F.greatest(fx, F.lit(0)), F.lit(n - 1)).cast("long") * n
        + F.least(F.greatest(fy, F.lit(0)), F.lit(n - 1)).cast("long")
    )
    day = (F.unix_timestamp(F.col("ts")) / F.lit(86400)).cast("long")
    hist = t.select(tile.alias("tile"), day.alias("day")).groupBy(
        "tile", "day"
    ).agg(F.count(F.lit(1)).alias("cnt"))
    return (
        hist.filter(F.col("cnt") >= PERSIST_THRESH)
        .groupBy("tile")
        .agg(
            F.count(F.lit(1)).alias("hot_days"),
            F.max("cnt").alias("peak"),
            F.sum("cnt").alias("hot_volume"),
        )
        .filter(F.col("hot_days") >= PERSIST_DAYS)
    )


O_HOTSPOT_PERSISTENCE = f"""
WITH src AS (
  SELECT CAST(floor(epoch(ts)) AS BIGINT) AS ep,
         {TRAJ_LAT_SQL} AS lat, {TRAJ_LON_SQL} AS lon
  FROM events
),
hist AS (
  SELECT LEAST(GREATEST(CAST(FLOOR((lon + 180.0) / CAST(360.0 AS DOUBLE) * {_ANOMN}.0)
            AS BIGINT), 0), {_ANOMN - 1}) * {_ANOMN}
       + LEAST(GREATEST(CAST(FLOOR((lat + 90.0) / CAST(180.0 AS DOUBLE) * {_ANOMN}.0)
            AS BIGINT), 0), {_ANOMN - 1}) AS tile,
         ep // 86400 AS day, count(*) AS cnt
  FROM src GROUP BY 1, 2
)
SELECT tile, count(*) AS hot_days, max(cnt) AS peak,
       CAST(sum(cnt) AS BIGINT) AS hot_volume
FROM hist WHERE cnt >= {PERSIST_THRESH}
GROUP BY 1 HAVING count(*) >= {PERSIST_DAYS}
"""


REGISTRY.update({"hotspot_persistence": (q_hotspot_persistence, O_HOTSPOT_PERSISTENCE)})


TRAJ_SRC_CTE = f"""src AS (
  SELECT user_id, ts, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS ep,
         {TRAJ_LAT_SQL} AS lat, {TRAJ_LON_SQL} AS lon
  FROM events
)"""


def _traj(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev.createOrReplaceTempView("__traj_events")
    return spark.sql(
        f"SELECT user_id, ts, event_id, {TRAJ_LAT_SQL} AS lat, "
        f"{TRAJ_LON_SQL} AS lon FROM __traj_events"
    )


def q_radius_of_gyration(spark, sf_dir):
    """Per-entity radius of gyration (operators/tiling.py
    ``radius_of_gyration``, Gonzalez et al. 2008): exact rational rg^2
    over micro-degree integer coordinates, DECIMAL(38,0) moment algebra
    — no float anywhere, same exactness contract as hotspot_gi."""
    from ..operators.tiling import radius_of_gyration

    return radius_of_gyration(_traj(spark, sf_dir))


O_RADIUS_GYRATION = f"""
WITH {TRAJ_SRC_CTE},
q AS (
  SELECT user_id AS entity,
         CAST(floor(lat * 1000000.0) AS BIGINT) AS x,
         CAST(floor(lon * 1000000.0) AS BIGINT) AS y
  FROM src
),
m AS (
  SELECT entity, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x * x) AS sxx, sum(y * y) AS syy
  FROM q GROUP BY 1
)
SELECT entity, CAST(n AS BIGINT) AS n_events,
       -- BIGINT is lossless at every fixture tier (max ~1.3e18 < 2^63);
       -- HUGEINT would reach pandas as float and break the hash. The
       -- Spark side stays DECIMAL(38,0) for the 100x path.
       CAST(n * (sxx + syy) - sx * sx - sy * sy AS BIGINT) AS rg2_num,
       CAST(n * n AS BIGINT) AS rg2_den
FROM m
"""


REGISTRY.update({"radius_of_gyration": (q_radius_of_gyration, O_RADIUS_GYRATION)})


DWELL_RES = 7


def q_dwell_time(spark, sf_dir):
    """Per-tile dwell accounting (operators/tiling.py ``dwell_time``):
    consecutive per-user segment durations attributed to the starting
    tile — exact epoch-second integers; the stay-duration complement of
    od_flows."""
    from ..operators.tiling import dwell_time

    return dwell_time(
        _traj(spark, sf_dir), res=DWELL_RES, order_tiebreak="event_id"
    )


O_DWELL_TIME = f"""
WITH {TRAJ_SRC_CTE},
seg AS (
  SELECT user_id AS entity, {_tile_sql(DWELL_RES)} AS tile, ep,
         lead(ep) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
  FROM src
)
SELECT tile, CAST(sum(nxt - ep) AS BIGINT) AS total_dwell_s,
       CAST(count(*) AS BIGINT) AS n_segments,
       CAST(count(DISTINCT entity) AS BIGINT) AS n_entities
FROM seg WHERE nxt IS NOT NULL GROUP BY 1
"""


REGISTRY.update({"dwell_time": (q_dwell_time, O_DWELL_TIME)})


VISIT_RES = 6


def q_visit_concentration(spark, sf_dir):
    """Per-entity Herfindahl concentration of tile visits
    (operators/tiling.py ``visit_concentration``): exact-integer HHI
    numerator + modal-share milli — the dialect-safe stand-in for visit
    entropy (log bit-parity across engines is not guaranteed; count
    ratios are)."""
    from ..operators.tiling import visit_concentration

    return visit_concentration(_traj(spark, sf_dir), res=VISIT_RES)


O_VISIT_CONC = f"""
WITH {TRAJ_SRC_CTE},
hist AS (
  SELECT user_id AS entity, {_tile_sql(VISIT_RES)} AS tile,
         count(*) AS cnt
  FROM src GROUP BY 1, 2
)
SELECT entity, CAST(sum(cnt) AS BIGINT) AS n_events,
       CAST(count(*) AS BIGINT) AS n_tiles,
       CAST(sum(cnt * cnt) AS BIGINT) AS hhi_num,
       CAST((1000 * max(cnt)) // sum(cnt) AS BIGINT) AS top_milli
FROM hist GROUP BY 1
"""


REGISTRY.update({"visit_concentration": (q_visit_concentration, O_VISIT_CONC)})


def q_tile_first_seen(spark, sf_dir):
    """Coverage-novelty audit (operators/tiling.py ``tile_first_seen``):
    per tile the first active epoch-day, distinct active days, and total
    events — the "what did this batch newly cover" primitive."""
    from ..operators.tiling import tile_first_seen

    return tile_first_seen(_traj(spark, sf_dir), res=DWELL_RES)


O_TILE_FIRST_SEEN = f"""
WITH {TRAJ_SRC_CTE}
SELECT {_tile_sql(DWELL_RES)} AS tile,
       CAST(min(ep // 86400) AS BIGINT) AS first_day,
       CAST(count(DISTINCT ep // 86400) AS BIGINT) AS n_days,
       CAST(count(*) AS BIGINT) AS n_events
FROM src GROUP BY 1
"""


REGISTRY.update({"tile_first_seen": (q_tile_first_seen, O_TILE_FIRST_SEEN)})


LISA_RES, LISA_K = 8, 1


def _kring_sql(res: int, k: int) -> str:
    """Shared k-ring CTE chain over the trajectory histogram: ``hist``
    (ix, iy, cnt) and ``ring`` (tile, ring_sum) — the SQL twin of
    operators/tiling.py kring_smooth's fan-out."""
    n = 1 << res
    return f"""hist AS (
  SELECT LEAST(GREATEST(CAST(FLOOR((lon + 180.0) / CAST(360.0 AS DOUBLE) * {n}.0)
           AS BIGINT), 0), {n - 1}) AS ix,
         LEAST(GREATEST(CAST(FLOOR((lat + 90.0) / CAST(180.0 AS DOUBLE) * {n}.0)
           AS BIGINT), 0), {n - 1}) AS iy,
         count(*) AS cnt
  FROM src GROUP BY 1, 2
),
ring AS (
  SELECT (h.ix + dx.d) * {n} + (h.iy + dy.d) AS tile, sum(h.cnt) AS ring_sum
  FROM hist h
  JOIN generate_series(-{k}, {k}) AS dx(d) ON TRUE
  JOIN generate_series(-{k}, {k}) AS dy(d) ON TRUE
  WHERE h.ix + dx.d BETWEEN 0 AND {n - 1}
    AND h.iy + dy.d BETWEEN 0 AND {n - 1}
  GROUP BY 1
)"""


def q_lisa_quadrants(spark, sf_dir):
    """Local Moran scatter quadrants (operators/spatial.py
    ``lisa_quadrants``, Anselin's LISA classes): HH/HL/LH/LL per occupied
    cell by exact integer cross-multiplied deviations — the per-cell
    drill-down under the global moran_i gate."""
    from ..operators.spatial import lisa_quadrants

    return lisa_quadrants(_traj(spark, sf_dir), res=LISA_RES, k=LISA_K)


_LISA_N = 1 << LISA_RES
O_LISA = f"""
WITH {TRAJ_SRC_CTE},
{_kring_sql(LISA_RES, LISA_K)},
base AS (SELECT sum(cnt) AS s FROM hist),
own AS (SELECT ix * {_LISA_N} + iy AS tile, ix, iy, cnt AS x FROM hist)
SELECT o.tile, CAST(o.x AS BIGINT) AS x,
       CAST(r.ring_sum - o.x AS BIGINT) AS ring_m,
       CAST((LEAST(o.ix + {LISA_K}, {_LISA_N - 1}) - GREATEST(o.ix - {LISA_K}, 0) + 1)
          * (LEAST(o.iy + {LISA_K}, {_LISA_N - 1}) - GREATEST(o.iy - {LISA_K}, 0) + 1)
          - 1 AS BIGINT) AS n_nbrs,
       CASE
         WHEN {_LISA_N * _LISA_N} * o.x > b.s
              AND {_LISA_N * _LISA_N} * (r.ring_sum - o.x) >
                  ((LEAST(o.ix + {LISA_K}, {_LISA_N - 1}) - GREATEST(o.ix - {LISA_K}, 0) + 1)
                 * (LEAST(o.iy + {LISA_K}, {_LISA_N - 1}) - GREATEST(o.iy - {LISA_K}, 0) + 1)
                 - 1) * b.s
           THEN 'HH'
         WHEN {_LISA_N * _LISA_N} * o.x > b.s THEN 'HL'
         WHEN {_LISA_N * _LISA_N} * (r.ring_sum - o.x) >
                  ((LEAST(o.ix + {LISA_K}, {_LISA_N - 1}) - GREATEST(o.ix - {LISA_K}, 0) + 1)
                 * (LEAST(o.iy + {LISA_K}, {_LISA_N - 1}) - GREATEST(o.iy - {LISA_K}, 0) + 1)
                 - 1) * b.s
           THEN 'LH'
         ELSE 'LL'
       END AS quad
FROM own o JOIN ring r ON r.tile = o.tile CROSS JOIN base b
"""


REGISTRY.update({"lisa_quadrants": (q_lisa_quadrants, O_LISA)})


RIPLEY_RES = 8
RIPLEY_RADII = (1, 2, 4)


def q_ripley_k(spark, sf_dir):
    """Grid Ripley's K (operators/spatial.py ``ripley_k``): ordered point
    pairs within Chebyshev cell distance r for r in {1, 2, 4} — pair
    counting via histogram k-ring sums, never point pairs."""
    from ..operators.spatial import ripley_k

    return ripley_k(_traj(spark, sf_dir), res=RIPLEY_RES, radii=RIPLEY_RADII)


_RIP_N = 1 << RIPLEY_RES
O_RIPLEY = f"""
WITH {TRAJ_SRC_CTE},
{_kring_sql(RIPLEY_RES, 1)},
own AS (SELECT ix * {_RIP_N} + iy AS tile, cnt AS x FROM hist)
""" + " UNION ALL ".join(
    f"""
SELECT {r} AS r,
       CAST(sum(o.x * rr.ring_sum) - sum(o.x) AS BIGINT) AS n_pairs,
       CAST(sum(o.x) AS BIGINT) AS n_points
FROM own o JOIN (
  SELECT (h.ix + dx.d) * {_RIP_N} + (h.iy + dy.d) AS tile, sum(h.cnt) AS ring_sum
  FROM hist h
  JOIN generate_series(-{r}, {r}) AS dx(d) ON TRUE
  JOIN generate_series(-{r}, {r}) AS dy(d) ON TRUE
  WHERE h.ix + dx.d BETWEEN 0 AND {_RIP_N - 1}
    AND h.iy + dy.d BETWEEN 0 AND {_RIP_N - 1}
  GROUP BY 1
) rr ON rr.tile = o.tile"""
    for r in RIPLEY_RADII
)


REGISTRY.update({"ripley_k": (q_ripley_k, O_RIPLEY)})


GRAV_RES = 7


def q_od_gravity_residual(spark, sf_dir):
    """Gravity-model residuals over the OD matrix (operators/spatial.py
    ``od_gravity_residual``): observed flows vs out*in/(T*(1+d2))
    expectation in exact DECIMAL integer arithmetic — the
    over-performing-corridor detector."""
    from ..operators.spatial import od_gravity_residual

    return od_gravity_residual(
        _traj(spark, sf_dir), "user_id", "ts", res=GRAV_RES,
        order_tiebreak="event_id",
    )


_GRAV_N = 1 << GRAV_RES
O_OD_GRAVITY = f"""
WITH {TRAJ_SRC_CTE},
g AS (
  SELECT user_id, {_tile_sql(GRAV_RES)} AS tile,
         lag({_tile_sql(GRAV_RES)}) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
         ) AS prev
  FROM src
),
flows AS (
  SELECT prev AS from_tile, tile AS to_tile, count(*) AS n_trips
  FROM g WHERE prev IS NOT NULL GROUP BY 1, 2
),
om AS (SELECT from_tile, sum(n_trips) AS out_from FROM flows GROUP BY 1),
im AS (SELECT to_tile, sum(n_trips) AS in_to FROM flows GROUP BY 1),
tt AS (SELECT sum(n_trips) AS t_total FROM flows)
SELECT f.from_tile, f.to_tile, CAST(f.n_trips AS BIGINT) AS n_trips,
       CAST(o.out_from AS BIGINT) AS out_from,
       CAST(i.in_to AS BIGINT) AS in_to,
       CAST((f.from_tile // {_GRAV_N} - f.to_tile // {_GRAV_N})
          * (f.from_tile // {_GRAV_N} - f.to_tile // {_GRAV_N})
          + (f.from_tile % {_GRAV_N} - f.to_tile % {_GRAV_N})
          * (f.from_tile % {_GRAV_N} - f.to_tile % {_GRAV_N}) AS BIGINT) AS d2,
       CAST((1000 * o.out_from * i.in_to)
            // (t.t_total * (1 + (f.from_tile // {_GRAV_N} - f.to_tile // {_GRAV_N})
                                 * (f.from_tile // {_GRAV_N} - f.to_tile // {_GRAV_N})
                               + (f.from_tile % {_GRAV_N} - f.to_tile % {_GRAV_N})
                                 * (f.from_tile % {_GRAV_N} - f.to_tile % {_GRAV_N})))
            AS BIGINT) AS exp_milli,
       CAST(1000 * f.n_trips
            - (1000 * o.out_from * i.in_to)
              // (t.t_total * (1 + (f.from_tile // {_GRAV_N} - f.to_tile // {_GRAV_N})
                                   * (f.from_tile // {_GRAV_N} - f.to_tile // {_GRAV_N})
                                 + (f.from_tile % {_GRAV_N} - f.to_tile % {_GRAV_N})
                                   * (f.from_tile % {_GRAV_N} - f.to_tile % {_GRAV_N})))
            AS BIGINT) AS resid_milli
FROM flows f
JOIN om o ON o.from_tile = f.from_tile
JOIN im i ON i.to_tile = f.to_tile
CROSS JOIN tt t
"""


REGISTRY.update({"od_gravity_residual": (q_od_gravity_residual, O_OD_GRAVITY)})


PR_RES, PR_ITERS = 8, 3


def q_tile_pagerank(spark, sf_dir):
    """Integer-scaled PageRank of the OD tile graph (operators/graphs.py
    ``pagerank_int``): which tiles accumulate trajectory flow — 3
    truncating-integer power rounds, replayed verbatim by the oracle;
    self-loop transitions dropped (rank flowing to itself is dwell, not
    connectivity)."""
    from pyspark.sql import Window

    from ..operators.graphs import pagerank_int

    t = _traj(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    from ..functions.cells import tile_key_col

    g = (
        t.withColumn("__tile", tile_key_col(F.col("lat"), F.col("lon"), PR_RES))
        .withColumn("__prev", F.lag("__tile").over(w))
        .filter(F.col("__prev").isNotNull() & (F.col("__prev") != F.col("__tile")))
        .select(F.col("__prev").alias("src"), F.col("__tile").alias("dst"))
    )
    return pagerank_int(g, iters=PR_ITERS)


def _o_pagerank(res: int, iters: int) -> str:
    parts = [
        f"""g AS (
  SELECT user_id, {_tile_sql(res)} AS tile,
         lag({_tile_sql(res)}) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
         ) AS prev
  FROM src
),
edges AS (
  SELECT DISTINCT prev AS u, tile AS v FROM g
  WHERE prev IS NOT NULL AND prev <> tile
),
nodes AS (SELECT u AS node FROM edges UNION SELECT v FROM edges),
outdeg AS (SELECT u, count(*) AS deg FROM edges GROUP BY 1),
r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes)"""
    ]
    for t in range(iters):
        parts.append(
            f"""s{t} AS (
  SELECT e.v AS node, sum(r.r // d.deg) AS i
  FROM r{t} r JOIN outdeg d ON d.u = r.node JOIN edges e ON e.u = r.node
  GROUP BY 1
),
r{t + 1} AS (
  SELECT n.node,
         CAST(150000 + (850 * coalesce(s.i, 0)) // 1000 AS BIGINT) AS r
  FROM nodes n LEFT JOIN s{t} s ON s.node = n.node
)"""
        )
    return ",\n".join(parts) + f"\nSELECT node, r AS rank_int FROM r{iters}"


O_TILE_PAGERANK = f"WITH {TRAJ_SRC_CTE},\n" + _o_pagerank(PR_RES, PR_ITERS)


REGISTRY.update({"tile_pagerank": (q_tile_pagerank, O_TILE_PAGERANK)})


KCORE_RES, KCORE_MIN, KCORE_K, KCORE_ROUNDS = 8, 3, 3, 4


def q_covis_kcore(spark, sf_dir):
    """Bounded-round k-core peeling (operators/graphs.py ``kcore``) of
    the co-visitation graph (pairs sharing a tile >= {COVIS_MIN} distinct
    days): the dense-companionship community extraction on top of the
    co_visitation gate; the oracle unrolls identical peel rounds."""
    from ..operators.graphs import kcore
    from ..operators.tiling import co_visitation

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev.createOrReplaceTempView("__kcore_events")
    t = spark.sql(
        f"SELECT user_id, ts, {TRAJ_LAT_SQL} AS lat, {TRAJ_LON_SQL} AS lon "
        "FROM __kcore_events"
    )
    pairs = co_visitation(t, res=KCORE_RES, min_days=KCORE_MIN)
    return kcore(pairs, k=KCORE_K, rounds=KCORE_ROUNDS)


def _o_kcore(k: int, rounds: int) -> str:
    # every e{t} is referenced three times by round t+1 (degree count +
    # both endpoint filters): AS MATERIALIZED stops DuckDB from inlining
    # the chain, which otherwise re-evaluates the quadratic pair join
    # 3^rounds times
    parts = ["e0 AS MATERIALIZED (SELECT a, b FROM pairs_agg)"]
    for t in range(rounds):
        parts.append(
            f"""d{t} AS MATERIALIZED (
  SELECT node, count(*) AS deg FROM (
    SELECT a AS node FROM e{t} UNION ALL SELECT b AS node FROM e{t}
  ) GROUP BY 1
),
al{t} AS MATERIALIZED (SELECT node FROM d{t} WHERE deg >= {k}),
e{t + 1} AS MATERIALIZED (
  SELECT e.a, e.b FROM e{t} e
  WHERE e.a IN (SELECT node FROM al{t}) AND e.b IN (SELECT node FROM al{t})
)"""
        )
    parts.append(
        f"""fin AS (
  SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
    SELECT a AS node FROM e{rounds} UNION ALL SELECT b AS node FROM e{rounds}
  ) GROUP BY 1
)"""
    )
    return ",\n".join(parts) + "\nSELECT node, deg FROM fin"


_KCN = 1 << KCORE_RES
O_COVIS_KCORE = f"""
WITH src AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ep,
         {TRAJ_LAT_SQL} AS lat, {TRAJ_LON_SQL} AS lon
  FROM events
),
pres AS (
  SELECT DISTINCT
    LEAST(GREATEST(CAST(FLOOR((lon + 180.0) / CAST(360.0 AS DOUBLE) * {_KCN}.0)
            AS BIGINT), 0), {_KCN - 1}) * {_KCN}
  + LEAST(GREATEST(CAST(FLOOR((lat + 90.0) / CAST(180.0 AS DOUBLE) * {_KCN}.0)
            AS BIGINT), 0), {_KCN - 1}) AS tile,
    ep // 86400 AS day, user_id AS entity
  FROM src
),
prs AS (
  SELECT DISTINCT p.entity AS a, q.entity AS b, p.day
  FROM pres p JOIN pres q
    ON q.tile = p.tile AND q.day = p.day AND p.entity < q.entity
),
pairs_agg AS (
  SELECT a, b FROM prs GROUP BY a, b HAVING count(*) >= {KCORE_MIN}
),
{_o_kcore(KCORE_K, KCORE_ROUNDS)}
"""


REGISTRY.update({"covis_kcore": (q_covis_kcore, O_COVIS_KCORE)})


BURST_RES = 8


def q_capture_bursts(spark, sf_dir):
    """Capture-burst detection (operators/images.py ``capture_bursts``):
    same-tile same-phash-band image groups — the near-duplicate scene
    signal exact dedup misses; metadata-only scan."""
    from ..operators.images import capture_bursts

    return capture_bursts(_synth_images(spark, sf_dir), res=BURST_RES)


_BN = 1 << BURST_RES
O_CAPTURE_BURSTS = f"""
WITH img AS (
  SELECT phash,
    LEAST(GREATEST(CAST(FLOOR((lon + 180.0) / CAST(360.0 AS DOUBLE) * {_BN}.0)
        AS BIGINT), 0), {_BN - 1}) * {_BN}
  + LEAST(GREATEST(CAST(FLOOR((lat + 90.0) / CAST(180.0 AS DOUBLE) * {_BN}.0)
        AS BIGINT), 0), {_BN - 1}) AS tile
  FROM read_parquet('{SYNTH_SF001_IMAGES}')
)
SELECT tile, CAST(phash // {1 << 48} AS BIGINT) AS band,
       CAST(count(*) AS BIGINT) AS n_images,
       CAST(count(DISTINCT phash) AS BIGINT) AS n_distinct_phash
FROM img GROUP BY 1, 2 HAVING count(*) >= 2
"""


REGISTRY.update({"capture_bursts": (q_capture_bursts, O_CAPTURE_BURSTS)})


def q_region_image_stats(spark, sf_dir):
    """Per-region image inventory (operators/images.py
    ``region_image_stats``): PIP-joined count / stored bytes / largest
    pixel count / occupied tiles per polygon — the coverage dashboard
    rollup; the oracle replays each polygon's half-open predicates."""
    from ..operators.images import region_image_stats

    return region_image_stats(
        _synth_images(spark, sf_dir), geo_polygons_df(spark), res=8
    )


O_REGION_IMAGE_STATS = (
    f"""
WITH img AS (
  SELECT lat, lon, octet_length(bytes) AS size_bytes,
         CAST(w AS BIGINT) * h AS px,
         LEAST(GREATEST(CAST(FLOOR((lon + 180.0) / CAST(360.0 AS DOUBLE) * 256.0)
             AS BIGINT), 0), 255) * 256
       + LEAST(GREATEST(CAST(FLOOR((lat + 90.0) / CAST(180.0 AS DOUBLE) * 256.0)
             AS BIGINT), 0), 255) AS tile
  FROM read_parquet('{SYNTH_SF001_IMAGES}')
)
"""
    + " UNION ALL ".join(
        f"""
SELECT '{pid}' AS polygon_id, CAST(count(*) AS BIGINT) AS n_images,
       CAST(sum(size_bytes) AS BIGINT) AS sum_bytes,
       CAST(max(px) AS BIGINT) AS max_px,
       CAST(count(DISTINCT tile) AS BIGINT) AS n_tiles
FROM img WHERE {pred}"""
        for pid, pred in POLY_PRED_SQL.items()
    )
)


REGISTRY.update({"region_image_stats": (q_region_image_stats, O_REGION_IMAGE_STATS)})


def q_snap_to_boundary(spark, sf_dir):
    """Boundary map matching (operators/spatial.py ``snap_to_boundary``):
    every point snapped to its nearest polygon-ring segment under exact
    integer micro-degree arithmetic (endpoint squares exact, interior
    projection as truncating cross^2 div len^2) — the border-proximity
    primitive; the oracle replays segments and arithmetic verbatim."""
    from ..operators.spatial import snap_to_boundary

    return snap_to_boundary(
        geo_points(spark, sf_dir), geo_polygons_df(spark)
    )


def _seg_values() -> str:
    import math

    rows = []
    for pid, ring in GEO_POLYGONS:
        m = len(ring)
        for i in range(m):
            (y1, x1), (y2, x2) = ring[i], ring[(i + 1) % m]
            rows.append(
                f"('{pid}', {i}, {math.floor(x1 * 1e6)}, {math.floor(y1 * 1e6)}, "
                f"{math.floor(x2 * 1e6)}, {math.floor(y2 * 1e6)})"
            )
    return ", ".join(rows)


O_SNAP_SEGMENTS = f"""
WITH {PTS_CTE},
segs AS (
  SELECT polygon_id, seg_idx,
         CAST(x1 AS BIGINT) AS x1, CAST(y1 AS BIGINT) AS y1,
         CAST(x2 AS BIGINT) AS x2, CAST(y2 AS BIGINT) AS y2
  FROM (VALUES {_seg_values()}) AS v(polygon_id, seg_idx, x1, y1, x2, y2)
),
q AS (
  SELECT point_id, CAST(FLOOR(lon * 1000000.0) AS BIGINT) AS x0,
         CAST(FLOOR(lat * 1000000.0) AS BIGINT) AS y0
  FROM pts
),
sc AS (
  SELECT point_id, polygon_id, seg_idx,
         CASE WHEN l2 = 0 OR tn <= 0 THEN da
              WHEN tn >= l2 THEN db
              ELSE CAST(CAST(cr AS HUGEINT) * cr // l2 AS BIGINT) END AS d2
  FROM (
    SELECT q.point_id, s.polygon_id, s.seg_idx,
           (s.x2 - s.x1) * (s.x2 - s.x1) + (s.y2 - s.y1) * (s.y2 - s.y1) AS l2,
           (q.x0 - s.x1) * (s.x2 - s.x1) + (q.y0 - s.y1) * (s.y2 - s.y1) AS tn,
           (q.x0 - s.x1) * (q.x0 - s.x1) + (q.y0 - s.y1) * (q.y0 - s.y1) AS da,
           (q.x0 - s.x2) * (q.x0 - s.x2) + (q.y0 - s.y2) * (q.y0 - s.y2) AS db,
           (q.x0 - s.x1) * (s.y2 - s.y1) - (q.y0 - s.y1) * (s.x2 - s.x1) AS cr
    FROM q CROSS JOIN segs s
  )
),
best AS (
  SELECT point_id, polygon_id, seg_idx, d2,
         row_number() OVER (PARTITION BY point_id
                            ORDER BY d2, polygon_id, seg_idx) AS rn
  FROM sc
)
SELECT point_id, polygon_id, CAST(seg_idx AS INT) AS seg_idx, d2
FROM best WHERE rn = 1
"""


REGISTRY.update({"snap_to_boundary": (q_snap_to_boundary, O_SNAP_SEGMENTS)})


HAUS_RES = 7


def q_cell_hausdorff(spark, sf_dir):
    """Trajectory-pair similarity (operators/spatial.py
    ``cell_hausdorff``): exact Chebyshev Hausdorff distance between
    visited-cell sets for the res-8 co-visitation candidate pairs — the
    'same places' score on top of the contact graph."""
    from ..operators.spatial import cell_hausdorff
    from ..operators.tiling import co_visitation

    t = _traj(spark, sf_dir)
    pairs = co_visitation(t, res=KCORE_RES, min_days=KCORE_MIN)
    return cell_hausdorff(t, pairs, res=HAUS_RES)


_HN = 1 << HAUS_RES
_HKN = 1 << KCORE_RES
O_CELL_HAUSDORFF = f"""
WITH {TRAJ_SRC_CTE},
pres AS (
  SELECT DISTINCT
    LEAST(GREATEST(CAST(FLOOR((lon + 180.0) / CAST(360.0 AS DOUBLE) * {_HKN}.0)
            AS BIGINT), 0), {_HKN - 1}) * {_HKN}
  + LEAST(GREATEST(CAST(FLOOR((lat + 90.0) / CAST(180.0 AS DOUBLE) * {_HKN}.0)
            AS BIGINT), 0), {_HKN - 1}) AS tile,
    ep // 86400 AS day, user_id AS entity
  FROM src
),
prs AS (
  SELECT DISTINCT p.entity AS a, q.entity AS b, p.day
  FROM pres p JOIN pres q
    ON q.tile = p.tile AND q.day = p.day AND p.entity < q.entity
),
pairs_agg AS MATERIALIZED (
  SELECT a, b FROM prs GROUP BY a, b HAVING count(*) >= {KCORE_MIN}
),
cells AS MATERIALIZED (
  SELECT DISTINCT user_id AS entity,
    LEAST(GREATEST(CAST(FLOOR((lon + 180.0) / CAST(360.0 AS DOUBLE) * {_HN}.0)
        AS BIGINT), 0), {_HN - 1}) AS ix,
    LEAST(GREATEST(CAST(FLOOR((lat + 90.0) / CAST(180.0 AS DOUBLE) * {_HN}.0)
        AS BIGINT), 0), {_HN - 1}) AS iy
  FROM src
),
dab AS (
  SELECT a, b, max(mn) AS d_ab FROM (
    SELECT p.a, p.b, ca.ix, ca.iy,
           min(GREATEST(ABS(ca.ix - cb.ix), ABS(ca.iy - cb.iy))) AS mn
    FROM pairs_agg p
    JOIN cells ca ON ca.entity = p.a
    JOIN cells cb ON cb.entity = p.b
    GROUP BY 1, 2, 3, 4
  ) GROUP BY 1, 2
),
dba AS (
  SELECT a, b, max(mn) AS d_ba FROM (
    SELECT p.a, p.b, cb.ix, cb.iy,
           min(GREATEST(ABS(ca.ix - cb.ix), ABS(ca.iy - cb.iy))) AS mn
    FROM pairs_agg p
    JOIN cells cb ON cb.entity = p.b
    JOIN cells ca ON ca.entity = p.a
    GROUP BY 1, 2, 3, 4
  ) GROUP BY 1, 2
)
SELECT d1.a, d1.b, CAST(d1.d_ab AS BIGINT) AS d_ab,
       CAST(d2.d_ba AS BIGINT) AS d_ba,
       CAST(GREATEST(d1.d_ab, d2.d_ba) AS BIGINT) AS d_h
FROM dab d1 JOIN dba d2 ON d2.a = d1.a AND d2.b = d1.b
"""


REGISTRY.update({"cell_hausdorff": (q_cell_hausdorff, O_CELL_HAUSDORFF)})


def q_stream_tile_first_seen(spark, sf_dir):
    """Streaming-vs-batch parity gate for the coverage-novelty state
    (streaming/microbatch.py ``stream_tile_first_seen``): the trajectory
    fixture staged as 3 RANK-INTERLEAVED files (maximal cross-batch
    disorder — min/distinct/count are order-free, so no ordering
    contract is needed); final per-tile state must equal batch
    ``tile_first_seen`` exactly — same oracle SQL."""
    from ..streaming.microbatch import run_tile_first_seen_stream_once

    t = _traj(spark, sf_dir)
    return _run_staged_stream(
        _thirds(_stream_pdf(t, "ts", "event_id"), interleaved=True),
        lambda src, ckpt: run_tile_first_seen_stream_once(
            spark, src, ckpt, res=DWELL_RES
        ),
    )


REGISTRY.update(
    {"stream_tile_first_seen": (q_stream_tile_first_seen, O_TILE_FIRST_SEEN)}
)


def q_burst_dedup_keep(spark, sf_dir):
    """Burst-collapse keep-list (operators/images.py
    ``burst_dedup_keep``): one deterministic representative per
    (tile, phash-band) group + displaced-duplicate counts — the
    curation policy on top of capture_bursts."""
    from ..operators.images import burst_dedup_keep

    return burst_dedup_keep(_synth_images(spark, sf_dir), res=BURST_RES)


O_BURST_KEEP = f"""
WITH img AS (
  SELECT image_id, phash,
    LEAST(GREATEST(CAST(FLOOR((lon + 180.0) / CAST(360.0 AS DOUBLE) * {_BN}.0)
        AS BIGINT), 0), {_BN - 1}) * {_BN}
  + LEAST(GREATEST(CAST(FLOOR((lat + 90.0) / CAST(180.0 AS DOUBLE) * {_BN}.0)
        AS BIGINT), 0), {_BN - 1}) AS tile
  FROM read_parquet('{SYNTH_SF001_IMAGES}')
)
SELECT tile, CAST(phash // {1 << 48} AS BIGINT) AS band,
       min(image_id) AS keep_id,
       CAST(count(*) AS BIGINT) AS n_images,
       CAST(count(*) - 1 AS BIGINT) AS n_dropped
FROM img GROUP BY 1, 2
"""


REGISTRY.update({"burst_dedup_keep": (q_burst_dedup_keep, O_BURST_KEEP)})


BINOM_RES, BINOM_K = 8, 2


def q_binomial_smooth(spark, sf_dir):
    """Binomial-kernel raster smoothing (operators/tiling.py
    ``binomial_smooth``): the exact-integer Gaussian-blur analogue
    (separable C(2k, k+d) weights, k=2) over the trajectory density
    raster — distance-weighted where kring_smooth box-sums."""
    from ..operators.tiling import binomial_smooth

    return binomial_smooth(_traj(spark, sf_dir), res=BINOM_RES, k=BINOM_K)


def _o_binom(res: int, k: int) -> str:
    import math

    n = 1 << res
    w = {d: math.comb(2 * k, k + d) for d in range(-k, k + 1)}
    wcase = "CASE " + " ".join(
        f"WHEN d = {d} THEN {wt}" for d, wt in w.items()
    ) + " END"
    return f"""hist AS (
  SELECT LEAST(GREATEST(CAST(FLOOR((lon + 180.0) / CAST(360.0 AS DOUBLE) * {n}.0)
           AS BIGINT), 0), {n - 1}) AS ix,
         LEAST(GREATEST(CAST(FLOOR((lat + 90.0) / CAST(180.0 AS DOUBLE) * {n}.0)
           AS BIGINT), 0), {n - 1}) AS iy,
         count(*) AS cnt
  FROM src GROUP BY 1, 2
)
SELECT (h.ix + dx.d) * {n} + (h.iy + dy.d) AS tile,
       CAST(sum(h.cnt * ({wcase.replace('d =', 'dx.d =')})
                      * ({wcase.replace('d =', 'dy.d =')})) AS BIGINT)
         AS smooth_sum
FROM hist h
JOIN generate_series(-{k}, {k}) AS dx(d) ON TRUE
JOIN generate_series(-{k}, {k}) AS dy(d) ON TRUE
WHERE h.ix + dx.d BETWEEN 0 AND {n - 1}
  AND h.iy + dy.d BETWEEN 0 AND {n - 1}
GROUP BY 1"""


O_BINOM_SMOOTH = f"WITH {TRAJ_SRC_CTE},\n" + _o_binom(BINOM_RES, BINOM_K)


REGISTRY.update({"binomial_smooth": (q_binomial_smooth, O_BINOM_SMOOTH)})


GINI_RES = 8


def q_tile_gini(spark, sf_dir):
    """Occupancy-inequality audit (operators/tiling.py ``tile_gini``):
    the exact rational Gini coefficient of per-tile event counts — the
    skew headline that sizes salting budgets."""
    from ..operators.tiling import tile_gini

    return tile_gini(_traj(spark, sf_dir), res=GINI_RES)


O_TILE_GINI = f"""
WITH {TRAJ_SRC_CTE},
hist AS (
  SELECT {_tile_sql(GINI_RES)} AS tile, count(*) AS x
  FROM src GROUP BY 1
),
ranked AS (
  SELECT x, row_number() OVER (ORDER BY x ASC, tile ASC) AS i FROM hist
),
agg AS (
  SELECT count(*) AS n_tiles, sum(x) AS total, sum(i * x) AS ix FROM ranked
)
SELECT CAST(n_tiles AS BIGINT) AS n_tiles, CAST(total AS BIGINT) AS total,
       CAST(2 * ix - (n_tiles + 1) * total AS BIGINT) AS gini_num,
       CAST(n_tiles * total AS BIGINT) AS gini_den,
       CAST((1000 * (2 * ix - (n_tiles + 1) * total)) // (n_tiles * total)
         AS BIGINT) AS gini_milli
FROM agg
"""


REGISTRY.update({"tile_gini": (q_tile_gini, O_TILE_GINI)})


def q_stream_gyration(spark, sf_dir):
    """Streaming-vs-batch parity gate for the mobility moments
    (streaming/microbatch.py ``stream_gyration_moments``): rank-
    interleaved maximal-disorder staging — moment sums are order-free,
    so the final per-entity state finished with the batch DECIMAL
    algebra must equal ``radius_of_gyration`` exactly (same oracle)."""
    from ..streaming.microbatch import run_gyration_stream_once

    t = _traj(spark, sf_dir)
    return _run_staged_stream(
        _thirds(_stream_pdf(t, "ts", "event_id"), interleaved=True),
        lambda src, ckpt: run_gyration_stream_once(spark, src, ckpt),
    )


REGISTRY.update({"stream_gyration": (q_stream_gyration, O_RADIUS_GYRATION)})


def q_region_px_quantiles(spark, sf_dir):
    """Per-region exact rank-based pixel-count percentiles
    (operators/images.py ``region_value_quantiles``): the value at rank
    ceil(p*n) ordered by (px, id) — an actual data value, never an
    interpolated float; the cross-engine-safe percentile contract."""
    from ..operators.images import region_value_quantiles

    return region_value_quantiles(
        _synth_images(spark, sf_dir), geo_polygons_df(spark), res=8
    )


O_REGION_PX_QUANTILES = (
    f"""
WITH img AS (
  SELECT image_id, lat, lon, CAST(w AS BIGINT) * h AS px
  FROM read_parquet('{SYNTH_SF001_IMAGES}')
)
"""
    + " UNION ALL ".join(
        f"""
SELECT '{pid}' AS polygon_id, CAST(max(n) AS BIGINT) AS n_images,
       CAST(max(CASE WHEN rn = (n + 1) // 2 THEN px END) AS BIGINT) AS px_p50,
       CAST(max(CASE WHEN rn = (9 * n + 9) // 10 THEN px END) AS BIGINT) AS px_p90
FROM (
  SELECT px,
         row_number() OVER (ORDER BY px ASC, image_id ASC) AS rn,
         count(*) OVER () AS n
  FROM img WHERE {pred}
)"""
        for pid, pred in POLY_PRED_SQL.items()
    )
)


REGISTRY.update(
    {"region_px_quantiles": (q_region_px_quantiles, O_REGION_PX_QUANTILES)}
)


def q_tile_flow_divergence(spark, sf_dir):
    """OD divergence field (operators/spatial.py ``tile_flow_divergence``):
    inflow / outflow / net per tile over the trajectory transitions —
    net > 0 marks attractors (commuter sinks)."""
    from ..operators.spatial import tile_flow_divergence

    return tile_flow_divergence(
        _traj(spark, sf_dir), "user_id", "ts", res=GRAV_RES,
        order_tiebreak="event_id",
    )


O_TILE_FLOW_DIV = f"""
WITH {TRAJ_SRC_CTE},
g AS (
  SELECT user_id, {_tile_sql(GRAV_RES)} AS tile,
         lag({_tile_sql(GRAV_RES)}) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
         ) AS prev
  FROM src
),
flows AS (
  SELECT prev AS from_tile, tile AS to_tile, count(*) AS n_trips
  FROM g WHERE prev IS NOT NULL AND prev <> tile GROUP BY 1, 2
),
om AS (SELECT from_tile AS tile, sum(n_trips) AS outflow FROM flows GROUP BY 1),
im AS (SELECT to_tile AS tile, sum(n_trips) AS inflow FROM flows GROUP BY 1)
SELECT COALESCE(o.tile, i.tile) AS tile,
       CAST(COALESCE(i.inflow, 0) AS BIGINT) AS inflow,
       CAST(COALESCE(o.outflow, 0) AS BIGINT) AS outflow,
       CAST(COALESCE(i.inflow, 0) - COALESCE(o.outflow, 0) AS BIGINT) AS net
FROM om o FULL OUTER JOIN im i ON i.tile = o.tile
"""


REGISTRY.update(
    {"tile_flow_divergence": (q_tile_flow_divergence, O_TILE_FLOW_DIV)}
)


def q_trip_length_hist(spark, sf_dir):
    """Trip-displacement histogram (operators/spatial.py
    ``trip_length_hist``): squared cell distances bucketed by decimal-
    digit count — exact order-of-magnitude bucketing where a log float
    would drift across engines."""
    from ..operators.spatial import trip_length_hist

    return trip_length_hist(
        _traj(spark, sf_dir), "user_id", "ts", res=GRAV_RES,
        order_tiebreak="event_id",
    )


_TLN = 1 << GRAV_RES
O_TRIP_LENGTH_HIST = f"""
WITH {TRAJ_SRC_CTE},
g AS (
  SELECT user_id,
         LEAST(GREATEST(CAST(FLOOR((lon + 180.0) / CAST(360.0 AS DOUBLE) * {_TLN}.0)
             AS BIGINT), 0), {_TLN - 1}) AS ix,
         LEAST(GREATEST(CAST(FLOOR((lat + 90.0) / CAST(180.0 AS DOUBLE) * {_TLN}.0)
             AS BIGINT), 0), {_TLN - 1}) AS iy,
         ts, event_id
  FROM src
),
lagged AS (
  SELECT ix, iy,
         lag(ix) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS px,
         lag(iy) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS py
  FROM g
),
d AS (
  SELECT (ix - px) * (ix - px) + (iy - py) * (iy - py) AS d2
  FROM lagged WHERE px IS NOT NULL
)
SELECT CASE WHEN d2 = 0 THEN 0
            ELSE CAST(length(CAST(d2 AS VARCHAR)) AS BIGINT) END AS digits,
       CAST(count(*) AS BIGINT) AS n_trips,
       CAST(min(d2) AS BIGINT) AS min_d2,
       CAST(max(d2) AS BIGINT) AS max_d2
FROM d GROUP BY 1
"""


REGISTRY.update({"trip_length_hist": (q_trip_length_hist, O_TRIP_LENGTH_HIST)})


SP_DIST, SP_STAY = 5_000_000, 86_400


def q_staypoints(spark, sf_dir):
    """Stay-point detection (operators/spatial.py ``staypoints``, Li et
    al. 2008): anchor-radius segments lasting >= 1 day within 5 deg —
    sequential per entity (Arrow kernel), gated against a recursive-CTE
    anchor-advance spec exactly like simplify_radial."""
    from ..operators.spatial import staypoints

    return staypoints(_traj(spark, sf_dir), SP_DIST, SP_STAY)


O_STAYPOINTS = f"""
WITH RECURSIVE src AS (
  SELECT user_id, ts, event_id,
         {TRAJ_LAT_SQL} AS lat, {TRAJ_LON_SQL} AS lon
  FROM events
),
t AS (
  SELECT user_id AS entity,
         CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
              AS BIGINT) AS rn,
         CAST(FLOOR((lon + 180.0) * CAST(1000000.0 AS DOUBLE)) AS BIGINT) AS x,
         CAST(FLOOR((lat + 90.0) * CAST(1000000.0 AS DOUBLE)) AS BIGINT) AS y,
         CAST(floor(epoch(ts)) AS BIGINT) AS ep
  FROM src
),
anc AS (
  SELECT entity, rn AS a_rn FROM t WHERE rn = 1
  UNION ALL
  SELECT n.entity, n.rn
  FROM anc k
  JOIN t q ON q.entity = k.entity AND q.rn = k.a_rn
  JOIN t n ON n.entity = k.entity
   AND n.rn = (
     SELECT min(m.rn) FROM t m
     WHERE m.entity = k.entity AND m.rn > k.a_rn
       AND (m.x - q.x) * (m.x - q.x) + (m.y - q.y) * (m.y - q.y)
           > {SP_DIST}::BIGINT * {SP_DIST}
   )
),
seg AS (
  SELECT entity, a_rn,
         lead(a_rn) OVER (PARTITION BY entity ORDER BY a_rn) AS next_a
  FROM anc
),
mx AS (SELECT entity, max(rn) AS mrn FROM t GROUP BY 1),
bounds AS (
  SELECT s.entity, s.a_rn AS start_rn,
         COALESCE(s.next_a - 1, m.mrn) AS end_rn
  FROM seg s JOIN mx m ON m.entity = s.entity
)
SELECT b.entity, b.start_rn, b.end_rn,
       CAST(b.end_rn - b.start_rn + 1 AS BIGINT) AS n_pts,
       p0.ep AS start_ep, p1.ep AS end_ep, p0.x AS ax, p0.y AS ay
FROM bounds b
JOIN t p0 ON p0.entity = b.entity AND p0.rn = b.start_rn
JOIN t p1 ON p1.entity = b.entity AND p1.rn = b.end_rn
WHERE p1.ep - p0.ep >= {SP_STAY}
"""


REGISTRY.update({"staypoints": (q_staypoints, O_STAYPOINTS)})


BURSTY_RES = 7


def q_tile_burstiness(spark, sf_dir):
    """Temporal burstiness per tile (operators/tiling.py
    ``tile_burstiness``): exact rational Fano factor of daily counts
    over the global calendar span (empty days folded in closed form) —
    bursty venues vs Poisson background."""
    from ..operators.tiling import tile_burstiness

    return tile_burstiness(_traj(spark, sf_dir), res=BURSTY_RES)


O_TILE_BURSTINESS = f"""
WITH {TRAJ_SRC_CTE},
hist AS (
  SELECT {_tile_sql(BURSTY_RES)} AS tile, ep // 86400 AS day, count(*) AS x
  FROM src GROUP BY 1, 2
),
span AS (SELECT max(day) - min(day) + 1 AS d_span FROM hist),
pt AS (
  SELECT tile, count(*) AS nda, sum(x) AS total, sum(x * x) AS sq
  FROM hist GROUP BY 1
)
SELECT tile, CAST(nda AS BIGINT) AS n_days_active,
       CAST(total AS BIGINT) AS total,
       CAST(d_span * sq - total * total AS BIGINT) AS fano_num,
       CAST(d_span * total AS BIGINT) AS fano_den,
       CAST((1000 * (d_span * sq - total * total)) // (d_span * total)
         AS BIGINT) AS fano_milli
FROM pt CROSS JOIN span
"""


REGISTRY.update({"tile_burstiness": (q_tile_burstiness, O_TILE_BURSTINESS)})


def q_weekday_contrast(spark, sf_dir):
    """Weekday-vs-weekend usage split per tile (operators/tiling.py
    ``weekday_contrast``): arithmetic day-of-week, weekday share in
    exact milli — office districts vs leisure tiles."""
    from ..operators.tiling import weekday_contrast

    return weekday_contrast(_traj(spark, sf_dir), res=BURSTY_RES)


O_WEEKDAY_CONTRAST = f"""
WITH {TRAJ_SRC_CTE},
d AS (
  SELECT {_tile_sql(BURSTY_RES)} AS tile,
         CASE WHEN (ep // 86400 + 4) % 7 IN (0, 6) THEN 1 ELSE 0 END AS we
  FROM src
)
SELECT tile, CAST(sum(1 - we) AS BIGINT) AS n_weekday,
       CAST(sum(we) AS BIGINT) AS n_weekend,
       CAST((1000 * sum(1 - we)) // count(*) AS BIGINT) AS weekday_milli
FROM d GROUP BY 1
"""


REGISTRY.update({"weekday_contrast": (q_weekday_contrast, O_WEEKDAY_CONTRAST)})


def q_source_overlap(spark, sf_dir):
    """Cross-source contamination audit (operators/textstats.py
    ``source_overlap``): exact bigram-set Jaccard between every source
    pair of the documents table — dedup-across-sources decision input."""
    from ..operators.textstats import source_overlap

    return source_overlap(spark.read.parquet(f"{sf_dir}/documents.parquet"))


O_SOURCE_OVERLAP = """
WITH tok AS (
  SELECT source AS src, regexp_extract_all(lower(text), '[a-z]+') AS t
  FROM documents
),
sb AS (
  SELECT DISTINCT src, t[i] || ' ' || t[i + 1] AS bg
  FROM tok JOIN generate_series(1, 8192) AS g(i) ON i <= len(t) - 1
),
sizes AS (SELECT src, count(*) AS n FROM sb GROUP BY 1),
common AS (
  SELECT a.src AS src_a, b.src AS src_b, count(*) AS n_common
  FROM sb a JOIN sb b ON b.bg = a.bg AND a.src < b.src
  GROUP BY 1, 2
)
SELECT c.src_a, c.src_b,
       CAST(sa.n AS BIGINT) AS n_a, CAST(sb2.n AS BIGINT) AS n_b,
       CAST(c.n_common AS BIGINT) AS n_common,
       CAST((1000 * c.n_common) // (sa.n + sb2.n - c.n_common) AS BIGINT)
         AS jaccard_milli
FROM common c
JOIN sizes sa ON sa.src = c.src_a
JOIN sizes sb2 ON sb2.src = c.src_b
"""


REGISTRY.update({"source_overlap": (q_source_overlap, O_SOURCE_OVERLAP)})


SYNTH_SF001_POLYGONS = os.path.join(_DATA_ROOT, "synth_sf0.01", "polygons.parquet")


def q_polygon_adjacency(spark, sf_dir):
    """Planar-topology audit (operators/spatial.py
    ``polygon_adjacency``): polygon pairs sharing exact canonicalized
    boundary edges over the synth admin set (which contains shared-edge
    shapes by construction) — adjacency meets on segment keys, never
    polygon pairs."""
    from ..datagen import ensure_dataset
    from ..operators.spatial import polygon_adjacency

    synth = ensure_dataset("sf0.01")
    return polygon_adjacency(spark.read.parquet(f"{synth}/polygons.parquet"))


O_POLYGON_ADJACENCY = f"""
WITH raw AS (
  SELECT polygon_id AS pid, ring
  FROM read_parquet('{SYNTH_SF001_POLYGONS}')
),
segd AS (
  SELECT pid,
         CAST(FLOOR(ring[i].lon * 1000000.0) AS BIGINT) AS x1,
         CAST(FLOOR(ring[i].lat * 1000000.0) AS BIGINT) AS y1,
         CAST(FLOOR(ring[(i % len(ring)) + 1].lon * 1000000.0) AS BIGINT) AS x2,
         CAST(FLOOR(ring[(i % len(ring)) + 1].lat * 1000000.0) AS BIGINT) AS y2
  FROM raw JOIN generate_series(1, 64) AS g(i) ON i <= len(ring)
),
segs AS (
  SELECT DISTINCT pid,
         CASE WHEN x1 < x2 OR (x1 = x2 AND y1 <= y2) THEN x1 ELSE x2 END AS cx1,
         CASE WHEN x1 < x2 OR (x1 = x2 AND y1 <= y2) THEN y1 ELSE y2 END AS cy1,
         CASE WHEN x1 < x2 OR (x1 = x2 AND y1 <= y2) THEN x2 ELSE x1 END AS cx2,
         CASE WHEN x1 < x2 OR (x1 = x2 AND y1 <= y2) THEN y2 ELSE y1 END AS cy2
  FROM segd
)
SELECT a.pid AS pid_a, b.pid AS pid_b,
       CAST(count(*) AS BIGINT) AS n_shared_edges
FROM segs a JOIN segs b
  ON b.cx1 = a.cx1 AND b.cy1 = a.cy1 AND b.cx2 = a.cx2 AND b.cy2 = a.cy2
 AND a.pid < b.pid
GROUP BY 1, 2
"""


REGISTRY.update({"polygon_adjacency": (q_polygon_adjacency, O_POLYGON_ADJACENCY)})


def q_tile_changepoint(spark, sf_dir):
    """Largest day-over-day jump per tile (operators/tiling.py
    ``tile_changepoint``): consecutive-calendar deltas with gap edges
    materialized as zero-days — the incident detector over the density
    time series."""
    from ..operators.tiling import tile_changepoint

    return tile_changepoint(_traj(spark, sf_dir), res=BURSTY_RES)


O_TILE_CHANGEPOINT = f"""
WITH {TRAJ_SRC_CTE},
hist AS (
  SELECT {_tile_sql(BURSTY_RES)} AS tile, ep // 86400 AS day, count(*) AS x
  FROM src GROUP BY 1, 2
),
lagged AS (
  SELECT tile, day, x,
         lag(day) OVER (PARTITION BY tile ORDER BY day) AS pd,
         lag(x) OVER (PARTITION BY tile ORDER BY day) AS px
  FROM hist
),
deltas AS (
  SELECT tile, day AS jump_day, x - px AS jump, px AS prev_cnt, x AS day_cnt
  FROM lagged WHERE pd = day - 1
  UNION ALL
  SELECT tile, pd + 1, -px, px, 0 FROM lagged
  WHERE pd IS NOT NULL AND pd < day - 1
  UNION ALL
  SELECT tile, day, x, 0, x FROM lagged
  WHERE pd IS NOT NULL AND pd < day - 1
),
ranked AS (
  SELECT tile, jump_day, jump, prev_cnt, day_cnt,
         row_number() OVER (PARTITION BY tile
                            ORDER BY ABS(jump) DESC, jump_day ASC) AS rn
  FROM deltas
)
SELECT tile, CAST(jump_day AS BIGINT) AS jump_day, CAST(jump AS BIGINT) AS jump,
       CAST(prev_cnt AS BIGINT) AS prev_cnt, CAST(day_cnt AS BIGINT) AS day_cnt
FROM ranked WHERE rn = 1
"""


REGISTRY.update({"tile_changepoint": (q_tile_changepoint, O_TILE_CHANGEPOINT)})


def q_activity_streaks(spark, sf_dir):
    """Longest consecutive-active-day streaks per user
    (operators/tiling.py ``activity_streaks``): the gaps-and-islands
    pattern (day - row_number constant within an island) — the
    retention/engagement headline."""
    from ..operators.tiling import activity_streaks

    return activity_streaks(_traj(spark, sf_dir))


O_ACTIVITY_STREAKS = f"""
WITH {TRAJ_SRC_CTE},
d AS (SELECT DISTINCT user_id AS entity, ep // 86400 AS day FROM src),
grp AS (
  SELECT entity, day,
         day - row_number() OVER (PARTITION BY entity ORDER BY day) AS g
  FROM d
),
islands AS (
  SELECT entity, g, count(*) AS len, min(day) AS start
  FROM grp GROUP BY 1, 2
),
ranked AS (
  SELECT entity, len, start,
         row_number() OVER (PARTITION BY entity
                            ORDER BY len DESC, start ASC) AS rn,
         sum(len) OVER (PARTITION BY entity) AS n_active_days,
         count(*) OVER (PARTITION BY entity) AS n_streaks
  FROM islands
)
SELECT entity, CAST(n_active_days AS BIGINT) AS n_active_days,
       CAST(n_streaks AS BIGINT) AS n_streaks,
       CAST(len AS BIGINT) AS longest_streak,
       CAST(start AS BIGINT) AS longest_streak_start
FROM ranked WHERE rn = 1
"""


REGISTRY.update({"activity_streaks": (q_activity_streaks, O_ACTIVITY_STREAKS)})


def q_tile_predictability(spark, sf_dir):
    """Per-origin-tile Markov predictability audit (operators/spatial.py
    ``tile_predictability``): the modal next tile per origin plus the
    exact counts behind the top-1 transition probability, ties to the
    smallest destination id. Window + totals run over the occupied-pair
    OD matrix, never the raw event stream. The oracle replays the lag
    window, the ranking and both per-origin totals in SQL."""
    from ..operators.spatial import tile_predictability

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev.createOrReplaceTempView("__pred_events")
    t = spark.sql(
        f"SELECT user_id, ts, event_id, {TRAJ_LAT_SQL} AS lat, "
        f"{TRAJ_LON_SQL} AS lon FROM __pred_events"
    )
    return tile_predictability(t, "user_id", "ts", res=8, order_tiebreak="event_id")


O_TILE_PREDICT = f"""
WITH t AS (
  SELECT user_id, ts, event_id,
         {TRAJ_LAT_SQL} AS lat, {TRAJ_LON_SQL} AS lon
  FROM events
),
g AS (
  SELECT user_id, {_tile_sql(8)} AS tile,
         lag({_tile_sql(8)}) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
         ) AS prev
  FROM t
),
trans AS (
  SELECT prev AS from_tile, tile AS to_tile, count(*) AS n
  FROM g WHERE prev IS NOT NULL GROUP BY 1, 2
),
r AS (
  SELECT from_tile, to_tile, n,
         row_number() OVER (PARTITION BY from_tile
                            ORDER BY n DESC, to_tile ASC) AS rn,
         sum(n) OVER (PARTITION BY from_tile) AS total_n,
         count(*) OVER (PARTITION BY from_tile) AS n_dest
  FROM trans
)
SELECT from_tile, to_tile AS top_to_tile, CAST(n AS BIGINT) AS top_n,
       CAST(total_n AS BIGINT) AS total_n, CAST(n_dest AS BIGINT) AS n_dest
FROM r WHERE rn = 1
"""


REGISTRY.update({"tile_predictability": (q_tile_predictability, O_TILE_PREDICT)})


def q_colocation_lift(spark, sf_dir):
    """Category co-location lift with tiles as baskets
    (operators/tiling.py ``colocation_lift``): exact contingency counts
    per unordered category pair plus the cross-multiplied integer lift
    rational (n_both * n_tiles) / (n_a * n_b). Categories derive from
    event keys (event_id % 3). The oracle replays the distinct-presence
    self-join and both totals in SQL."""
    from ..operators.tiling import colocation_lift

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev.createOrReplaceTempView("__colo_events")
    t = spark.sql(
        f"SELECT event_id % 3 AS cat, {TRAJ_LAT_SQL} AS lat, "
        f"{TRAJ_LON_SQL} AS lon FROM __colo_events"
    )
    return colocation_lift(t, "cat", res=8)


O_COLOCATION_LIFT = f"""
WITH t AS (
  SELECT event_id % 3 AS cat,
         {TRAJ_LAT_SQL} AS lat, {TRAJ_LON_SQL} AS lon
  FROM events
),
pres AS (SELECT DISTINCT {_tile_sql(8)} AS tile, cat FROM t),
per_cat AS (SELECT cat, count(*) AS n_cat FROM pres GROUP BY 1),
total AS (SELECT count(DISTINCT tile) AS n_tiles FROM pres),
pairs AS (
  SELECT a.cat AS cat_a, b.cat AS cat_b, count(*) AS n_both
  FROM pres a JOIN pres b ON a.tile = b.tile AND a.cat < b.cat
  GROUP BY 1, 2
)
SELECT cat_a, cat_b,
       CAST(ca.n_cat AS BIGINT) AS n_a, CAST(cb.n_cat AS BIGINT) AS n_b,
       CAST(n_both AS BIGINT) AS n_both, CAST(n_tiles AS BIGINT) AS n_tiles,
       CAST(n_both * n_tiles AS BIGINT) AS lift_num,
       CAST(ca.n_cat * cb.n_cat AS BIGINT) AS lift_den
FROM pairs
JOIN per_cat ca ON ca.cat = pairs.cat_a
JOIN per_cat cb ON cb.cat = pairs.cat_b
CROSS JOIN total
"""


REGISTRY.update({"colocation_lift": (q_colocation_lift, O_COLOCATION_LIFT)})


def q_spatial_kfold(spark, sf_dir):
    """Spatially-blocked k-fold CV assignment (operators/sampling.py
    ``spatial_kfold``): fold = md5(tile at res 7) mod 5 — geo_split's
    leakage guarantee generalized to equal folds. Pure column
    expressions; the oracle replays the md5-prefix mod in SQL."""
    from ..operators.sampling import spatial_kfold

    return spatial_kfold(geo_points(spark, sf_dir), res=GEO_SPLIT_RES, k=5).select(
        "point_id", "tile", "fold"
    )


O_SPATIAL_KFOLD = f"""
WITH {PTS_CTE},
t AS (SELECT point_id, {_tile_sql(GEO_SPLIT_RES)} AS tile FROM pts)
SELECT point_id, tile,
       CAST({_o_hex8("md5('fold0' || CAST(tile AS VARCHAR))", 1)} % 5 AS INT) AS fold
FROM t
"""


REGISTRY.update({"spatial_kfold": (q_spatial_kfold, O_SPATIAL_KFOLD)})


def q_heavy_hitters_cms(spark, sf_dir):
    """Count-min-sketch heavy hitters over res-8 event tiles
    (operators/sketches.py ``cms_heavy_hitters``): keys whose CMS
    estimate (min over 3 md5-hash rows of 64 bucket counters) holds
    >= 1/256 of total mass, with the exact count alongside so the
    one-sided guarantee is checkable. The oracle rebuilds the identical
    sketch in SQL — counters, min, and the cross-multiplied threshold."""
    from ..operators.sketches import cms_heavy_hitters

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev.createOrReplaceTempView("__cms_events")
    t = spark.sql(
        f"SELECT {TRAJ_LAT_SQL} AS lat, {TRAJ_LON_SQL} AS lon FROM __cms_events"
    )
    from ..operators.tiling import assign_tiles

    return cms_heavy_hitters(assign_tiles(t, res=8), "tile", mass_denom=256)


_CMS_B = {
    i: "(" + _o_hex8(f"md5('cms{i}:' || CAST(key AS VARCHAR))", 1) + ") % 64"
    for i in range(3)
}

O_HEAVY_HITTERS_CMS = f"""
WITH t AS (
  SELECT {_tile_sql(8, lat=TRAJ_LAT_SQL, lon=TRAJ_LON_SQL)} AS key FROM events
),
hb AS (
  SELECT key, {_CMS_B[0]} AS b0, {_CMS_B[1]} AS b1, {_CMS_B[2]} AS b2 FROM t
),
c0 AS (SELECT b0 AS bucket, count(*) AS c FROM hb GROUP BY 1),
c1 AS (SELECT b1 AS bucket, count(*) AS c FROM hb GROUP BY 1),
c2 AS (SELECT b2 AS bucket, count(*) AS c FROM hb GROUP BY 1),
exact AS (
  SELECT key, b0, b1, b2, count(*) AS exact_n FROM hb GROUP BY 1, 2, 3, 4
),
total AS (SELECT count(*) AS total_n FROM t)
SELECT key, CAST(least(c0.c, c1.c, c2.c) AS BIGINT) AS cms_est,
       CAST(exact_n AS BIGINT) AS exact_n, CAST(total_n AS BIGINT) AS total_n
FROM exact
JOIN c0 ON c0.bucket = exact.b0
JOIN c1 ON c1.bucket = exact.b1
JOIN c2 ON c2.bucket = exact.b2
CROSS JOIN total
WHERE least(c0.c, c1.c, c2.c) * 256 >= total_n
"""


REGISTRY.update({"heavy_hitters_cms": (q_heavy_hitters_cms, O_HEAVY_HITTERS_CMS)})


def q_semivariogram(spark, sf_dir):
    """Empirical semivariogram of the res-7 point-density raster over
    occupied cells (operators/spatial.py ``semivariogram``): per squared
    cell-distance bin, the unordered pair count and exact integer sum of
    squared density differences (half-ring fan, each pair once). The
    oracle replays the histogram, the 6-offset half-ring join and the
    integer sums in SQL."""
    from ..operators.spatial import semivariogram

    return semivariogram(geo_points(spark, sf_dir), res=7, max_lag=2)


O_SEMIVARIOGRAM = f"""
WITH {PTS_CTE},
h AS (
  SELECT tile // 128 AS ix, tile % 128 AS iy, count(*) AS x
  FROM (SELECT {_tile_sql(7)} AS tile FROM pts) GROUP BY 1, 2
),
offs AS (
  SELECT CAST(dx AS BIGINT) AS dx, CAST(dy AS BIGINT) AS dy
  FROM (VALUES (0, 1), (0, 2), (1, -1), (1, 0), (1, 1), (2, 0)) o(dx, dy)
)
SELECT CAST(dx * dx + dy * dy AS BIGINT) AS d2,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(SUM((h1.x - h2.x) * (h1.x - h2.x)) AS BIGINT) AS sum_sq_diff
FROM h h1
CROSS JOIN offs
JOIN h h2 ON h2.ix = h1.ix + dx AND h2.iy = h1.iy + dy
GROUP BY 1
"""


REGISTRY.update({"semivariogram": (q_semivariogram, O_SEMIVARIOGRAM)})


def q_cell_compact(spark, sf_dir):
    """Hierarchical cell-cover compaction res 8 -> 5 (operators/tiling.py
    ``compact_cells``, the H3 compactCells analogue): complete sibling
    quads collapse to their parent recursively, yielding the minimal
    mixed-resolution cover of the occupied set. The oracle unrolls the
    three promotion rounds as MATERIALIZED CTEs (each level referenced
    twice — inlining would re-evaluate the chain exponentially)."""
    from ..operators.tiling import compact_cells

    return compact_cells(geo_points(spark, sf_dir), res=8, res_min=5)


def _o_cell_compact(res: int, res_min: int) -> str:
    n = 1 << res
    parts = [
        f"c{res} AS MATERIALIZED (SELECT DISTINCT tile // {n} AS ix, "
        f"tile % {n} AS iy FROM (SELECT {_tile_sql(res)} AS tile FROM pts))"
    ]
    prev = f"c{res}"
    sels = []
    for r in range(res, res_min, -1):
        parts.append(
            f"p{r} AS MATERIALIZED (SELECT ix // 2 AS ix, iy // 2 AS iy "
            f"FROM {prev} GROUP BY 1, 2 HAVING count(*) = 4)"
        )
        sels.append(
            f"SELECT {r} AS res, a.ix, a.iy FROM {prev} a "
            f"LEFT JOIN p{r} b ON b.ix = a.ix // 2 AND b.iy = a.iy // 2 "
            "WHERE b.ix IS NULL"
        )
        prev = f"p{r}"
    sels.append(f"SELECT {res_min} AS res, ix, iy FROM {prev}")
    return (
        f"WITH {PTS_CTE},\n" + ",\n".join(parts) + "\n"
        + "\nUNION ALL\n".join(sels)
    )


O_CELL_COMPACT = _o_cell_compact(8, 5)


REGISTRY.update({"cell_compact": (q_cell_compact, O_CELL_COMPACT)})


def q_dissolve_perimeter(spark, sf_dir):
    """Raster dissolve audit of the shared polygon fixture at res 10
    (operators/spatial.py ``dissolve_perimeter``): per polygon the exact
    cell count, rook adjacencies, exposed-edge perimeter and boundary-
    cell count. The oracle re-burns the lattice with the shared
    predicates and replays the 4-offset neighbor join in SQL."""
    from ..operators.spatial import dissolve_perimeter, rasterize_polygons

    return dissolve_perimeter(
        rasterize_polygons(geo_polygons_df(spark), res=10), res=10
    )


O_DISSOLVE_PERIMETER = (
    "WITH " + _RASTER_CELLS_CTE + ",\nr AS MATERIALIZED ("
    + " UNION ALL ".join(
        f"SELECT '{pid}' AS polygon_id, tile // 1024 AS ix, tile % 1024 AS iy "
        f"FROM c WHERE {pred}"
        for pid, pred in POLY_PRED_SQL.items()
    )
    + """),
offs AS (
  SELECT CAST(dx AS BIGINT) AS dx, CAST(dy AS BIGINT) AS dy
  FROM (VALUES (1, 0), (-1, 0), (0, 1), (0, -1)) o(dx, dy)
),
nb AS (
  SELECT a.polygon_id, a.ix, a.iy, count(*) AS d
  FROM r a CROSS JOIN offs
  JOIN r b ON b.polygon_id = a.polygon_id
          AND b.ix = a.ix + dx AND b.iy = a.iy + dy
  GROUP BY 1, 2, 3
),
deg AS (
  SELECT r.polygon_id, COALESCE(nb.d, 0) AS d
  FROM r LEFT JOIN nb
    ON nb.polygon_id = r.polygon_id AND nb.ix = r.ix AND nb.iy = r.iy
)
SELECT polygon_id, CAST(count(*) AS BIGINT) AS n_cells,
       CAST(SUM(d) // 2 AS BIGINT) AS n_adj,
       CAST(4 * count(*) - SUM(d) AS BIGINT) AS perimeter_edges,
       CAST(SUM(CASE WHEN d < 4 THEN 1 ELSE 0 END) AS BIGINT) AS n_boundary
FROM deg GROUP BY 1
"""
)


REGISTRY.update({"dissolve_perimeter": (q_dissolve_perimeter, O_DISSOLVE_PERIMETER)})


def q_orientation_hist(spark, sf_dir):
    """Per-image 8-octant gradient orientation histogram
    (operators/images.py ``orientation_hist``) over a 1-in-32 sample of
    the RAW subset: central-difference luminance gradients, octant by
    sign/magnitude comparisons only, zero-gradient pixels excluded. The
    oracle re-decodes the bytes in SQL and takes the differences via
    four self-joins of the pixel table — a genuinely different
    formulation from the kernel's slice arithmetic."""
    from ..operators.images import orientation_hist

    imgs = _synth_images(spark, sf_dir).filter(
        (F.col("fmt") == "raw")
        & (F.substring("image_id", 4, 9).cast("long") % 32 == 0)
    )
    return orientation_hist(imgs)


O_ORIENTATION_HIST = f"""
WITH v AS (
  SELECT image_id, w, hex(bytes) AS hx, octet_length(bytes) AS len
  FROM read_parquet('{SYNTH_SF001_IMAGES}')
  WHERE fmt = 'raw' AND CAST(substr(image_id, 4, 9) AS BIGINT) % 32 = 0
),
series AS (SELECT i FROM generate_series(0, 3100) s(i)),
b AS (
  SELECT image_id, w, i,
         (strpos('0123456789ABCDEF', substr(hx, 2*i + 1, 1)) - 1) * 16
       + (strpos('0123456789ABCDEF', substr(hx, 2*i + 2, 1)) - 1) AS bv
  FROM v JOIN series ON i < len
),
lum AS MATERIALIZED (
  SELECT image_id, (i - 9) // 3 // w AS r, (i - 9) // 3 % w AS c,
         CAST((2126 * SUM(CASE WHEN (i - 9) % 3 = 0 THEN bv ELSE 0 END)
             + 7152 * SUM(CASE WHEN (i - 9) % 3 = 1 THEN bv ELSE 0 END)
             +  722 * SUM(CASE WHEN (i - 9) % 3 = 2 THEN bv ELSE 0 END))
              // 10000 AS BIGINT) AS l
  FROM b WHERE i >= 9 GROUP BY 1, 2, 3
),
grad AS (
  SELECT p.image_id, e.l - w_.l AS gx, s.l - n_.l AS gy
  FROM lum p
  JOIN lum e  ON e.image_id = p.image_id AND e.r = p.r AND e.c = p.c + 1
  JOIN lum w_ ON w_.image_id = p.image_id AND w_.r = p.r AND w_.c = p.c - 1
  JOIN lum s  ON s.image_id = p.image_id AND s.r = p.r + 1 AND s.c = p.c
  JOIN lum n_ ON n_.image_id = p.image_id AND n_.r = p.r - 1 AND n_.c = p.c
)
SELECT image_id,
       CAST(CASE WHEN gy < 0 THEN 4 ELSE 0 END
          + CASE WHEN gx < 0 THEN 2 ELSE 0 END
          + CASE WHEN abs(gy) > abs(gx) THEN 1 ELSE 0 END AS BIGINT) AS bin,
       CAST(count(*) AS BIGINT) AS n_px
FROM grad WHERE NOT (gx = 0 AND gy = 0)
GROUP BY 1, 2
"""


REGISTRY.update({"orientation_hist": (q_orientation_hist, O_ORIENTATION_HIST)})


def q_stream_staypoints(spark, sf_dir):
    """Streaming-vs-batch parity gate for the stateful stay-point walk
    (streaming/microbatch.py ``stream_staypoints``): the trajectory
    fixture staged as 3 TIME-ORDERED files (ordered-ingestion contract,
    mtime fixes trigger order); closed segments emit exactly once, the
    final open segment is finished like the batch walk's trailing
    segment — gated against the SAME recursive-CTE oracle as batch
    ``staypoints``."""
    from ..streaming.microbatch import run_staypoints_stream_once

    t = _traj(spark, sf_dir)
    return _run_staged_stream(
        _thirds(_stream_pdf(t, "ts", "event_id")),
        lambda src, ckpt: run_staypoints_stream_once(
            spark, src, ckpt, dist_micro=SP_DIST, min_stay_s=SP_STAY
        ),
    )


REGISTRY.update({"stream_staypoints": (q_stream_staypoints, O_STAYPOINTS)})


def q_od_reciprocity(spark, sf_dir):
    """OD flow reciprocity per unordered tile pair (operators/spatial.py
    ``od_reciprocity``): directional trip counts and their min via a
    full-outer self-join of the OD matrix on the canonical key. The
    oracle replays the lag window, both directional rollups and the
    full-outer coalesce in SQL."""
    from ..operators.spatial import od_reciprocity

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev.createOrReplaceTempView("__recip_events")
    t = spark.sql(
        f"SELECT user_id, ts, event_id, {TRAJ_LAT_SQL} AS lat, "
        f"{TRAJ_LON_SQL} AS lon FROM __recip_events"
    )
    return od_reciprocity(t, "user_id", "ts", res=8, order_tiebreak="event_id")


O_OD_RECIPROCITY = f"""
WITH t AS (
  SELECT user_id, ts, event_id,
         {TRAJ_LAT_SQL} AS lat, {TRAJ_LON_SQL} AS lon
  FROM events
),
g AS (
  SELECT user_id, {_tile_sql(8)} AS tile,
         lag({_tile_sql(8)}) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
         ) AS prev
  FROM t
),
od AS (
  SELECT prev AS from_tile, tile AS to_tile, count(*) AS n
  FROM g WHERE prev IS NOT NULL AND prev <> tile GROUP BY 1, 2
),
fwd AS (SELECT from_tile AS tile_a, to_tile AS tile_b, n AS n_ab
        FROM od WHERE from_tile < to_tile),
rev AS (SELECT to_tile AS tile_a, from_tile AS tile_b, n AS n_ba
        FROM od WHERE from_tile > to_tile)
SELECT COALESCE(fwd.tile_a, rev.tile_a) AS tile_a,
       COALESCE(fwd.tile_b, rev.tile_b) AS tile_b,
       CAST(COALESCE(n_ab, 0) AS BIGINT) AS n_ab,
       CAST(COALESCE(n_ba, 0) AS BIGINT) AS n_ba,
       CAST(least(COALESCE(n_ab, 0), COALESCE(n_ba, 0)) AS BIGINT) AS n_recip
FROM fwd FULL OUTER JOIN rev
  ON fwd.tile_a = rev.tile_a AND fwd.tile_b = rev.tile_b
"""


REGISTRY.update({"od_reciprocity": (q_od_reciprocity, O_OD_RECIPROCITY)})


def q_tile_coverage_curve(spark, sf_dir):
    """Workload-concentration (skew-audit) curve at res 8
    (operators/tiling.py ``tile_coverage_curve``): per mass decile, the
    minimum top-tile count reaching that share of rows, exact
    cross-multiplied thresholds. The oracle replays the histogram, the
    global cumulative window and the min-rank rollup in SQL."""
    from ..operators.tiling import tile_coverage_curve

    return tile_coverage_curve(geo_points(spark, sf_dir), res=8)


O_TILE_COVERAGE_CURVE = f"""
WITH {PTS_CTE},
h AS (
  SELECT {_tile_sql(8)} AS tile, count(*) AS n FROM pts GROUP BY 1
),
ranked AS (
  SELECT row_number() OVER (ORDER BY n DESC, tile ASC) AS rank,
         sum(n) OVER (ORDER BY n DESC, tile ASC
                      ROWS UNBOUNDED PRECEDING) AS cum
  FROM h
),
total AS (SELECT sum(n) AS total_rows FROM h),
fan AS (
  SELECT rank, cum, total_rows, d.decile
  FROM ranked CROSS JOIN total
  CROSS JOIN (SELECT unnest(generate_series(1, 10)) AS decile) d
  WHERE cum * 10 >= total_rows * decile
),
best AS (
  SELECT decile, min(rank) AS n_tiles FROM fan GROUP BY 1
)
SELECT CAST(best.decile AS INT) AS decile,
       CAST(best.n_tiles AS BIGINT) AS n_tiles,
       CAST(f2.cum AS BIGINT) AS covered_rows,
       CAST(f2.total_rows AS BIGINT) AS total_rows
FROM best JOIN fan f2 ON f2.decile = best.decile AND f2.rank = best.n_tiles
"""


REGISTRY.update({"tile_coverage_curve": (q_tile_coverage_curve, O_TILE_COVERAGE_CURVE)})


def q_wait_time_hist(spark, sf_dir):
    """Per-tile inter-arrival log2-bucket histogram (operators/tiling.py
    ``wait_time_hist``): successive per-tile event gaps bucketed by
    binary digit count — exact integer bucketing via length(bin(gap)),
    identical in both engines. The oracle replays the per-tile lag
    window and the bucket rollup in SQL."""
    from ..operators.tiling import wait_time_hist

    return wait_time_hist(_traj(spark, sf_dir), res=8, order_tiebreak="event_id")


O_WAIT_TIME_HIST = f"""
WITH {TRAJ_SRC_CTE},
g AS (
  SELECT {_tile_sql(8)} AS tile, ep,
         lag(ep) OVER (PARTITION BY {_tile_sql(8)} ORDER BY ep, event_id) AS prev
  FROM src
),
gaps AS (SELECT ep - prev AS gap FROM g WHERE prev IS NOT NULL)
SELECT CAST(length(bin(gap)) AS INT) AS bucket,
       CAST(count(*) AS BIGINT) AS n_gaps,
       CAST(sum(gap) AS BIGINT) AS total_gap_s,
       CAST(max(gap) AS BIGINT) AS max_gap_s
FROM gaps GROUP BY 1
"""


REGISTRY.update({"wait_time_hist": (q_wait_time_hist, O_WAIT_TIME_HIST)})


def q_exploration_curve(spark, sf_dir):
    """Population exploration curve (operators/tiling.py
    ``exploration_curve``): cumulative distinct-tile counts per entity,
    checkpointed at event-index deciles and summed across entities —
    the novelty-decay audit. The oracle replays the first-visit flag,
    both per-entity windows and the two rollups in SQL."""
    from ..operators.tiling import exploration_curve

    return exploration_curve(
        _traj(spark, sf_dir), res=8, order_tiebreak="event_id"
    )


O_EXPLORATION_CURVE = f"""
WITH {TRAJ_SRC_CTE},
b AS (
  SELECT user_id AS entity, ep, event_id, {_tile_sql(8)} AS tile FROM src
),
flagged AS (
  SELECT entity, ep, event_id,
         CASE WHEN row_number() OVER (
           PARTITION BY entity, tile ORDER BY ep, event_id
         ) = 1 THEN 1 ELSE 0 END AS is_new
  FROM b
),
walked AS (
  SELECT entity,
         row_number() OVER (PARTITION BY entity ORDER BY ep, event_id) AS r,
         count(*) OVER (PARTITION BY entity) AS n,
         sum(is_new) OVER (
           PARTITION BY entity ORDER BY ep, event_id
           ROWS UNBOUNDED PRECEDING
         ) AS cum_tiles
  FROM flagged
),
per_decile AS (
  SELECT entity, CAST(((r - 1) * 10) // n + 1 AS INT) AS decile,
         max(cum_tiles) AS tiles_at
  FROM walked GROUP BY 1, 2
)
SELECT decile, CAST(sum(tiles_at) AS BIGINT) AS sum_tiles,
       CAST(count(*) AS BIGINT) AS n_entities
FROM per_decile GROUP BY 1
"""


REGISTRY.update({"exploration_curve": (q_exploration_curve, O_EXPLORATION_CURVE)})


QUADRAT_RES = 8


def q_quadrat_chi2(spark, sf_dir):
    """Quadrat-count CSR chi-square over the occupied bbox lattice
    (operators/spatial.py ``quadrat_chi2``): all-integer numerator and
    denominator from one histogram aggregate; the oracle replays the
    histogram, bbox bounds and the closed-form chi2 in SQL."""
    from ..operators.spatial import quadrat_chi2

    return quadrat_chi2(geo_points(spark, sf_dir), res=QUADRAT_RES)


O_QUADRAT_CHI2 = f"""
WITH {PTS_CTE},
hist AS (SELECT {_tile_sql(8)} AS tile, count(*) AS x FROM pts GROUP BY 1),
base AS (
  SELECT CAST(sum(x) AS HUGEINT) AS s, CAST(sum(x * x) AS HUGEINT) AS q2,
         count(*) AS occ,
         min(tile // 256) AS x0, max(tile // 256) AS x1,
         min(tile % 256) AS y0, max(tile % 256) AS y1
  FROM hist
),
alg AS (
  SELECT occ, s,
         CAST((x1 - x0 + 1) * (y1 - y0 + 1) AS HUGEINT) AS nq,
         CAST((x1 - x0 + 1) * (y1 - y0 + 1) AS HUGEINT) * q2 - s * s AS num_i
  FROM base
)
SELECT 8 AS res, CAST(s AS BIGINT) AS n_points,
       CAST(nq AS BIGINT) AS n_quadrats, occ AS occupied,
       CAST(num_i AS DOUBLE) AS chi2_num, CAST(s AS DOUBLE) AS chi2_den,
       CAST(num_i AS DOUBLE) / CAST(s AS DOUBLE) AS chi2
FROM alg
"""


REGISTRY.update({"quadrat_chi2": (q_quadrat_chi2, O_QUADRAT_CHI2)})


def q_join_counts(spark, sf_dir):
    """Cliff-Ord join-count statistics over the binarized density
    raster (operators/spatial.py ``join_counts``): occupied cells
    marked black by the integer cross-multiplied occupied-mean
    threshold, rook pairs counted by color. The oracle replays the
    histogram, the marking and the 2-offset pair join in SQL."""
    from ..operators.spatial import join_counts

    return join_counts(geo_points(spark, sf_dir), res=QUADRAT_RES)


O_JOIN_COUNTS = f"""
WITH {PTS_CTE},
hist AS (SELECT {_tile_sql(8)} AS tile, count(*) AS x FROM pts GROUP BY 1),
stats AS (SELECT sum(x) AS tot, count(*) AS occ FROM hist),
marked AS (
  SELECT tile, CASE WHEN x * occ >= tot THEN 1 ELSE 0 END AS black
  FROM hist, stats
),
colors AS (
  SELECT sum(black) AS n_black, sum(1 - black) AS n_white FROM marked
),
fan AS (
  SELECT (tile // 256 + dx) * 256 + (tile % 256 + dy) AS ntile, black AS b1
  FROM marked, (VALUES (1, 0), (0, 1)) o(dx, dy)
  WHERE tile // 256 + dx BETWEEN 0 AND 255
    AND tile % 256 + dy BETWEEN 0 AND 255
),
pairs AS (
  SELECT count(*) AS n_pairs,
         COALESCE(sum(f.b1 * m.black), 0) AS bb,
         COALESCE(sum((1 - f.b1) * (1 - m.black)), 0) AS ww
  FROM fan f JOIN marked m ON f.ntile = m.tile
)
SELECT 8 AS res, CAST(n_black AS BIGINT) AS n_black,
       CAST(n_white AS BIGINT) AS n_white,
       CAST(n_pairs AS BIGINT) AS n_pairs,
       CAST(bb AS BIGINT) AS bb, CAST(ww AS BIGINT) AS ww,
       CAST(n_pairs - bb - ww AS BIGINT) AS bw
FROM colors, pairs
"""


REGISTRY.update({"join_counts": (q_join_counts, O_JOIN_COUNTS)})


def q_daily_motifs(spark, sf_dir):
    """Daily mobility-motif census (operators/tiling.py
    ``daily_motifs``): entity-days classified by (distinct tiles,
    transitions, home-return) and counted per class. The oracle replays
    the per-day lag window, the first/last-tile frame and both rollups
    in SQL."""
    from ..operators.tiling import daily_motifs

    return daily_motifs(_traj(spark, sf_dir), res=8, order_tiebreak="event_id")


O_DAILY_MOTIFS = f"""
WITH {TRAJ_SRC_CTE},
b AS (
  SELECT user_id AS entity, ep // 86400 AS day, ep, event_id,
         {_tile_sql(8)} AS tile
  FROM src
),
w AS (
  SELECT entity, day, tile,
         lag(tile) OVER (PARTITION BY entity, day ORDER BY ep, event_id)
           AS prev,
         first_value(tile) OVER (
           PARTITION BY entity, day ORDER BY ep, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
         ) AS ft,
         last_value(tile) OVER (
           PARTITION BY entity, day ORDER BY ep, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
         ) AS lt
  FROM b
),
per_day AS (
  SELECT entity, day, count(*) AS n_events,
         count(DISTINCT tile) AS n_tiles,
         sum(CASE WHEN prev IS NOT NULL AND prev <> tile
                  THEN 1 ELSE 0 END) AS n_transitions,
         max(CASE WHEN ft = lt THEN 1 ELSE 0 END) AS home_return
  FROM w GROUP BY 1, 2
)
SELECT CAST(n_tiles AS BIGINT) AS n_tiles,
       CAST(n_transitions AS BIGINT) AS n_transitions,
       CAST(home_return AS BIGINT) AS home_return,
       CAST(count(*) AS BIGINT) AS n_entity_days,
       CAST(sum(n_events) AS BIGINT) AS total_events
FROM per_day GROUP BY 1, 2, 3
"""


REGISTRY.update({"daily_motifs": (q_daily_motifs, O_DAILY_MOTIFS)})


def q_local_bridges(spark, sf_dir):
    """Granovetter local bridges of the OD tile graph
    (operators/graphs.py ``local_bridges``): canonical edges with zero
    common neighbors, enriched with endpoint degrees — the same graph
    fixture as ``tile_pagerank``. The oracle replays the canonical edge
    set, a NOT EXISTS common-neighbor probe and the degree joins."""
    from pyspark.sql import Window

    from ..functions.cells import tile_key_col
    from ..operators.graphs import local_bridges

    t = _traj(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    g = (
        t.withColumn("__tile", tile_key_col(F.col("lat"), F.col("lon"), PR_RES))
        .withColumn("__prev", F.lag("__tile").over(w))
        .filter(F.col("__prev").isNotNull() & (F.col("__prev") != F.col("__tile")))
        .select(F.col("__prev").alias("src"), F.col("__tile").alias("dst"))
    )
    return local_bridges(g)


O_LOCAL_BRIDGES = f"""
WITH {TRAJ_SRC_CTE},
g AS (
  SELECT user_id, {_tile_sql(8)} AS tile,
         lag({_tile_sql(8)}) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
         ) AS prev
  FROM src
),
ed AS (
  SELECT DISTINCT least(prev, tile) AS a, greatest(prev, tile) AS b
  FROM g WHERE prev IS NOT NULL AND prev <> tile
),
adj AS (SELECT a AS u, b AS w FROM ed UNION ALL SELECT b, a FROM ed),
deg AS (SELECT u AS node, count(*) AS deg FROM adj GROUP BY 1),
br AS (
  SELECT a, b FROM ed e
  WHERE NOT EXISTS (
    SELECT 1 FROM adj x JOIN adj y ON x.w = y.w
    WHERE x.u = e.a AND y.u = e.b
  )
)
SELECT br.a, br.b, CAST(da.deg AS BIGINT) AS deg_a,
       CAST(db.deg AS BIGINT) AS deg_b
FROM br JOIN deg da ON da.node = br.a JOIN deg db ON db.node = br.b
"""


REGISTRY.update({"local_bridges": (q_local_bridges, O_LOCAL_BRIDGES)})


def q_stream_dwell(spark, sf_dir):
    """Streaming-vs-batch parity gate for the stateful dwell kernel
    (streaming/microbatch.py ``stream_dwell``): the trajectory fixture
    staged as 3 TIME-ORDERED files (ordered-ingestion contract, mtime
    fixes trigger order); each segment emits exactly once when its
    closing event arrives, the post-stream rollup is gated against the
    SAME oracle as batch ``dwell_time``."""
    from ..streaming.microbatch import run_dwell_stream_once

    t = _traj(spark, sf_dir)
    return _run_staged_stream(
        _thirds(_stream_pdf(t, "ts", "event_id")),
        lambda src, ckpt: run_dwell_stream_once(spark, src, ckpt, res=DWELL_RES),
    )


REGISTRY.update({"stream_dwell": (q_stream_dwell, O_DWELL_TIME)})


def q_knn_classify(spark, sf_dir):
    """kNN majority-vote classifier over the feature dim
    (operators/knn.py ``knn_join`` + one vote rollup): each query point
    takes the modal label of its 5 nearest features, ties to the
    smaller label — the baseline geo-ML spatial classifier, exactly the
    reference's nearest-name enrichment (SURVEY.md kNN ranking) with a
    vote instead of rank 1. The oracle replays the quadratic kNN spec,
    the vote rollup and the (votes DESC, label ASC) argmax in SQL."""
    from ..operators.knn import knn_join

    pts = geo_points(spark, sf_dir).filter(F.col("point_id") % 97 == 0)
    feats = geo_features(spark, sf_dir)
    knn = knn_join(
        pts, feats, k=5, res=7, point_id="point_id", feature_id="id"
    ).select("point_id", (F.col("neighbor_id") % 5).alias("label"))
    votes = knn.groupBy("point_id", "label").agg(
        F.count(F.lit(1)).alias("votes")
    )
    best = votes.groupBy("point_id").agg(
        F.max(F.struct(F.col("votes"), (-F.col("label")).alias("nl"))).alias("__b")
    )
    return best.select(
        "point_id",
        (-F.col("__b.nl")).cast("long").alias("label"),
        F.col("__b.votes").cast("long").alias("votes"),
    )


O_KNN_CLASSIFY = f"""
WITH {PTS_CTE}, {FEATS_CTE},
q AS (SELECT * FROM pts WHERE point_id % 97 = 0),
d AS (
  SELECT q.point_id, f.id AS neighbor_id,
         row_number() OVER (PARTITION BY q.point_id ORDER BY
           (q.lat - f.lat) * (q.lat - f.lat)
             + (q.lon - f.lon) * (q.lon - f.lon) ASC,
           f.id ASC) AS rank
  FROM q CROSS JOIN feats f
),
v AS (
  SELECT point_id, neighbor_id % 5 AS label, count(*) AS votes
  FROM d WHERE rank <= 5 GROUP BY 1, 2
),
r AS (
  SELECT point_id, label, votes,
         row_number() OVER (PARTITION BY point_id
                            ORDER BY votes DESC, label ASC) AS rn
  FROM v
)
SELECT point_id, CAST(label AS BIGINT) AS label,
       CAST(votes AS BIGINT) AS votes
FROM r WHERE rn = 1
"""


REGISTRY.update({"knn_classify": (q_knn_classify, O_KNN_CLASSIFY)})


def q_bilinear_interp(spark, sf_dir):
    """Fixed-point bilinear interpolation of the density raster at the
    feature-dim query points (operators/spatial.py ``bilinear_interp``):
    exact integer corner weights from a 16-bit quantized cell
    coordinate, missing cells contribute 0. The oracle replays the
    histogram, the fixed-point quantization, the 4-corner fan and the
    weighted rollup in SQL."""
    from ..operators.spatial import bilinear_interp

    pts = geo_points(spark, sf_dir)
    qs = geo_features(spark, sf_dir).filter(F.col("id") % 7 == 0)
    return bilinear_interp(pts, qs, res=8, s_bits=16)


O_BILINEAR = f"""
WITH {PTS_CTE}, {FEATS_CTE},
hist AS (SELECT {_tile_sql(8)} AS tile, count(*) AS cnt FROM pts GROUP BY 1),
b AS (
  SELECT id,
    CAST(floor((lon + 180.0) / 360.0 * 16777216.0) AS BIGINT) + 32768 AS tu,
    CAST(floor((lat + 90.0) / 180.0 * 16777216.0) AS BIGINT) + 32768 AS tv
  FROM feats WHERE id % 7 = 0
),
c AS (
  SELECT id, tu // 65536 - 1 AS ix0, tu % 65536 AS fx,
         tv // 65536 - 1 AS iy0, tv % 65536 AS fy FROM b
),
fan AS (
  SELECT id, (ix0 + dx) * 256 + (iy0 + dy) AS ctile,
         ix0 + dx AS cx, iy0 + dy AS cy,
         (CASE WHEN dx = 0 THEN 65536 - fx ELSE fx END)
         * (CASE WHEN dy = 0 THEN 65536 - fy ELSE fy END) AS w
  FROM c, (VALUES (0, 0), (0, 1), (1, 0), (1, 1)) o(dx, dy)
),
j AS (
  SELECT f.id,
         f.w * (CASE WHEN cx BETWEEN 0 AND 255 AND cy BETWEEN 0 AND 255
                     THEN 1 ELSE 0 END)
             * COALESCE(h.cnt, 0) AS wc
  FROM fan f LEFT JOIN hist h ON f.ctile = h.tile
)
SELECT id, CAST(sum(wc) AS BIGINT) AS val_num,
       CAST(4294967296 AS BIGINT) AS val_den,
       CAST(sum(wc) AS DOUBLE) / 4294967296.0 AS val
FROM j GROUP BY 1
"""


REGISTRY.update({"bilinear_interp": (q_bilinear_interp, O_BILINEAR)})


def q_image_coverage_gap(spark, sf_dir):
    """Imagery-acquisition queue (operators/images.py
    ``image_coverage_gap``): res-10 cells with >= 2 trajectory events and
    zero images, ranked by covered rook neighbors. Events follow the
    tier; the image table is the PINNED sf0.01 synth fixture on both
    sides (same contract as every image-op oracle). The oracle replays
    both histograms, the anti-join and the neighbor fan in SQL."""
    from ..operators.images import image_coverage_gap

    return image_coverage_gap(
        _traj(spark, sf_dir), _synth_images(spark, sf_dir), res=10,
        min_events=2,
    )


O_IMAGE_COVERAGE_GAP = f"""
WITH {TRAJ_SRC_CTE},
ev AS (
  SELECT {_tile_sql(10)} AS tile, count(*) AS n_events
  FROM src GROUP BY 1 HAVING count(*) >= 2
),
img AS (
  SELECT {_tile_sql(10)} AS tile, count(*) AS n_images
  FROM read_parquet('{SYNTH_SF001_IMAGES}') GROUP BY 1
),
gaps AS (
  SELECT e.tile, e.n_events FROM ev e
  WHERE NOT EXISTS (SELECT 1 FROM img i WHERE i.tile = e.tile)
),
fan AS (
  SELECT g.tile, g.n_events,
         CASE WHEN g.tile // 1024 + dx BETWEEN 0 AND 1023
                   AND g.tile % 1024 + dy BETWEEN 0 AND 1023
                   AND EXISTS (
                     SELECT 1 FROM img i
                     WHERE i.tile = (g.tile // 1024 + dx) * 1024
                                    + (g.tile % 1024 + dy)
                   )
              THEN 1 ELSE 0 END AS cov
  FROM gaps g, (VALUES (-1, 0), (1, 0), (0, -1), (0, 1)) o(dx, dy)
)
SELECT tile, CAST(max(n_events) AS BIGINT) AS n_events,
       CAST(sum(cov) AS BIGINT) AS covered_neighbors
FROM fan GROUP BY 1
"""


REGISTRY.update({"image_coverage_gap": (q_image_coverage_gap, O_IMAGE_COVERAGE_GAP)})


def q_tile_dup_rate(spark, sf_dir):
    """Per-cell exact-duplicate pressure audit over the pinned image
    fixture (operators/images.py ``tile_dup_rate``): count, distinct
    pHash and milli dup share per res-5 cell. The oracle replays the
    one-pass rollup in SQL."""
    from ..operators.images import tile_dup_rate

    return tile_dup_rate(_synth_images(spark, sf_dir), res=5)


O_TILE_DUP_RATE = f"""
WITH img AS (
  SELECT phash, {_tile_sql(5)} AS tile
  FROM read_parquet('{SYNTH_SF001_IMAGES}')
)
SELECT tile, CAST(count(*) AS BIGINT) AS n_images,
       CAST(count(DISTINCT phash) AS BIGINT) AS n_distinct,
       CAST(1000 * (count(*) - count(DISTINCT phash)) AS BIGINT)
         // count(*) AS dup_milli
FROM img GROUP BY 1
"""


REGISTRY.update({"tile_dup_rate": (q_tile_dup_rate, O_TILE_DUP_RATE)})


def q_stream_wait_time(spark, sf_dir):
    """Streaming-vs-batch parity gate for the stateful inter-arrival
    kernel (streaming/microbatch.py ``stream_wait_time``): the
    trajectory fixture staged as 3 TIME-ORDERED files; every per-cell
    gap emits exactly once when its closing event arrives, the
    post-stream bucket rollup is gated against the SAME oracle as batch
    ``wait_time_hist``."""
    from ..streaming.microbatch import run_wait_time_stream_once

    t = _traj(spark, sf_dir)
    return _run_staged_stream(
        _thirds(_stream_pdf(t, "ts", "event_id")),
        lambda src, ckpt: run_wait_time_stream_once(spark, src, ckpt, res=8),
    )


REGISTRY.update({"stream_wait_time": (q_stream_wait_time, O_WAIT_TIME_HIST)})


OD_SPARSE_CTE = f"""g AS (
  SELECT user_id, {_tile_sql(8)} AS tile,
         lag({_tile_sql(8)}) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
         ) AS prev
  FROM src
),
od AS (
  SELECT prev AS from_tile, tile AS to_tile, count(*) AS n_trips
  FROM g WHERE prev IS NOT NULL AND prev <> tile GROUP BY 1, 2
)"""


def q_od_topk(spark, sf_dir):
    """Per-origin top-3 destination sparsification (operators/spatial.py
    ``od_topk``): the routing-table summary of the OD matrix with
    deterministic (n DESC, tile ASC) ranking. The oracle replays the
    lag window, the pair rollup and the rank window in SQL."""
    from ..operators.spatial import od_topk

    return od_topk(
        _traj(spark, sf_dir), "user_id", "ts", k=3, res=8,
        order_tiebreak="event_id",
    )


O_OD_TOPK = f"""
WITH {TRAJ_SRC_CTE},
{OD_SPARSE_CTE},
r AS (
  SELECT from_tile, to_tile, CAST(n_trips AS BIGINT) AS n_trips,
         CAST(row_number() OVER (
           PARTITION BY from_tile ORDER BY n_trips DESC, to_tile ASC
         ) AS INT) AS rank
  FROM od
)
SELECT from_tile, to_tile, n_trips, rank FROM r WHERE rank <= 3
"""


REGISTRY.update({"od_topk": (q_od_topk, O_OD_TOPK)})


def q_od_backbone(spark, sf_dir):
    """Per-origin corridor backbone (operators/spatial.py
    ``od_backbone``): OD edges carrying >= 1/50 of their origin's
    outbound trips via integer cross-multiply. The oracle replays the
    rollup and the per-origin sum window in SQL."""
    from ..operators.spatial import od_backbone

    return od_backbone(
        _traj(spark, sf_dir), "user_id", "ts", share_den=50, res=8,
        order_tiebreak="event_id",
    )


O_OD_BACKBONE = f"""
WITH {TRAJ_SRC_CTE},
{OD_SPARSE_CTE},
s AS (
  SELECT from_tile, to_tile, CAST(n_trips AS BIGINT) AS n_trips,
         CAST(sum(n_trips) OVER (PARTITION BY from_tile) AS BIGINT)
           AS origin_trips
  FROM od
)
SELECT from_tile, to_tile, n_trips, origin_trips
FROM s WHERE n_trips * 50 >= origin_trips
"""


REGISTRY.update({"od_backbone": (q_od_backbone, O_OD_BACKBONE)})


TRIP_GAP_S = 14_400


def q_trip_segments(spark, sf_dir):
    """Gap-based trip segmentation (operators/spatial.py
    ``trip_segments``): per-entity trips split at 4-hour silences, with
    exact micro-degree net displacement. The oracle replays the lag
    flag, the running trip ordinal, the full-frame endpoint windows and
    the per-trip rollup in SQL."""
    from ..operators.spatial import trip_segments

    return trip_segments(
        _traj(spark, sf_dir), "user_id", "ts", max_gap_s=TRIP_GAP_S,
        res=8, order_tiebreak="event_id",
    )


O_TRIP_SEGMENTS = f"""
WITH {TRAJ_SRC_CTE},
b AS (
  SELECT user_id AS entity, ep, event_id,
         CAST(floor((lon + 180.0) * 1000000.0) AS BIGINT) AS x,
         CAST(floor((lat + 90.0) * 1000000.0) AS BIGINT) AS y,
         {_tile_sql(8)} AS tile
  FROM src
),
w1 AS (
  SELECT *, lag(ep) OVER (PARTITION BY entity ORDER BY ep, event_id) AS prev
  FROM b
),
w2 AS (
  SELECT *, sum(CASE WHEN prev IS NULL OR ep - prev > {TRIP_GAP_S}
                     THEN 1 ELSE 0 END)
              OVER (PARTITION BY entity ORDER BY ep, event_id
                    ROWS UNBOUNDED PRECEDING) AS trip_id
  FROM w1
),
w3 AS (
  SELECT entity, trip_id, ep, tile, x, y,
         first_value(x) OVER tw AS fx, first_value(y) OVER tw AS fy,
         last_value(x) OVER tw AS lx, last_value(y) OVER tw AS ly
  FROM w2
  WINDOW tw AS (
    PARTITION BY entity, trip_id ORDER BY ep, event_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
  )
)
SELECT entity, CAST(trip_id AS BIGINT) AS trip_id,
       CAST(count(*) AS BIGINT) AS n_points,
       CAST(min(ep) AS BIGINT) AS start_ep,
       CAST(max(ep) AS BIGINT) AS end_ep,
       CAST(max(ep) - min(ep) AS BIGINT) AS duration_s,
       CAST(count(DISTINCT tile) AS BIGINT) AS n_tiles,
       CAST(max((lx - fx) * (lx - fx) + (ly - fy) * (ly - fy)) AS BIGINT)
         AS disp2
FROM w3 GROUP BY 1, 2
"""


REGISTRY.update({"trip_segments": (q_trip_segments, O_TRIP_SEGMENTS)})


VMAX_MICRO = 2000


def q_speed_outliers(spark, sf_dir):
    """GPS teleport detection (operators/spatial.py ``speed_outliers``):
    segments whose implied speed exceeds 2000 micro-deg/s under the
    exact cross-multiplied dist2 > (vmax*dt)^2 test. The oracle replays
    the lag window and the HUGEINT budget compare in SQL."""
    from ..operators.spatial import speed_outliers

    return speed_outliers(
        _traj(spark, sf_dir), "user_id", "ts", vmax_micro=VMAX_MICRO,
        order_tiebreak="event_id",
    )


O_SPEED_OUTLIERS = f"""
WITH {TRAJ_SRC_CTE},
b AS (
  SELECT user_id AS entity, ep, event_id,
         CAST(floor((lon + 180.0) * 1000000.0) AS BIGINT) AS x,
         CAST(floor((lat + 90.0) * 1000000.0) AS BIGINT) AS y
  FROM src
),
s AS (
  SELECT entity, ep, x, y,
         lag(ep) OVER w AS pep, lag(x) OVER w AS px, lag(y) OVER w AS py
  FROM b WINDOW w AS (PARTITION BY entity ORDER BY ep, event_id)
),
f AS (
  SELECT entity, pep AS start_ep, ep AS end_ep, ep - pep AS dt_s,
         (x - px) * (x - px) + (y - py) * (y - py) AS dist2
  FROM s WHERE pep IS NOT NULL
)
SELECT entity, start_ep, end_ep, CAST(dt_s AS BIGINT) AS dt_s,
       CAST(dist2 AS BIGINT) AS dist2
FROM f
WHERE CAST(dist2 AS HUGEINT)
      > CAST({VMAX_MICRO} * dt_s AS HUGEINT) * ({VMAX_MICRO} * dt_s)
"""


REGISTRY.update({"speed_outliers": (q_speed_outliers, O_SPEED_OUTLIERS)})


def q_geofence_dwell(spark, sf_dir):
    """Per-polygon dwell accounting (operators/spatial.py
    ``geofence_dwell``): consecutive-segment durations attributed to
    the fence containing the segment start, via the hierarchical PIP
    cover. The oracle replays the lead window and each polygon's
    half-open predicates (empty fences omitted on both sides)."""
    from ..operators.spatial import geofence_dwell

    return geofence_dwell(
        _traj(spark, sf_dir), geo_polygons_df(spark), "user_id", "ts",
        res=8, order_tiebreak="event_id",
    )


O_GEOFENCE_DWELL = (
    f"""
WITH {TRAJ_SRC_CTE},
s AS (
  SELECT user_id AS entity, ep, lat, lon,
         lead(ep) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
  FROM src
),
seg AS (SELECT * FROM s WHERE nxt IS NOT NULL)
"""
    + " UNION ALL ".join(
        f"""
SELECT '{pid}' AS polygon_id,
       CAST(sum(nxt - ep) AS BIGINT) AS total_dwell_s,
       CAST(count(*) AS BIGINT) AS n_segments,
       CAST(count(DISTINCT entity) AS BIGINT) AS n_entities
FROM seg WHERE {pred} HAVING count(*) > 0"""
        for pid, pred in POLY_PRED_SQL.items()
    )
)


REGISTRY.update({"geofence_dwell": (q_geofence_dwell, O_GEOFENCE_DWELL)})


def q_pyramid_gaps(spark, sf_dir):
    """Pyramid-completeness audit over the pinned image fixture
    (operators/tiling.py ``pyramid_gaps``): res-5 parents with 1-3
    occupied res-6 children. The oracle replays the child histogram,
    the arithmetic parent key and the partial-quad filter in SQL."""
    from ..operators.tiling import pyramid_gaps

    return pyramid_gaps(_synth_images(spark, sf_dir), res=6)


O_PYRAMID_GAPS = f"""
WITH img AS (
  SELECT {_tile_sql(6)} AS tile, count(*) AS n
  FROM read_parquet('{SYNTH_SF001_IMAGES}') GROUP BY 1
),
per AS (
  SELECT ((tile // 64) // 2) * 32 + ((tile % 64) // 2) AS parent_tile,
         count(*) AS n_children, sum(n) AS n_rows
  FROM img GROUP BY 1
)
SELECT parent_tile, CAST(n_children AS BIGINT) AS n_children,
       CAST(n_rows AS BIGINT) AS n_rows
FROM per WHERE n_children BETWEEN 1 AND 3
"""


REGISTRY.update({"pyramid_gaps": (q_pyramid_gaps, O_PYRAMID_GAPS)})


def q_visit_regularity(spark, sf_dir):
    """Per (entity, cell) visit-rhythm moments (operators/tiling.py
    ``visit_regularity``): exact cross-multiplied gap variance
    numerator per pair with >= 2 gaps. The oracle replays the
    per-pair lag window and the moment rollup in SQL (HUGEINT ->
    BIGINT, fixture-bounded)."""
    from ..operators.tiling import visit_regularity

    return visit_regularity(
        _traj(spark, sf_dir), res=6, min_gaps=2, order_tiebreak="event_id"
    )


O_VISIT_REGULARITY = f"""
WITH {TRAJ_SRC_CTE},
b AS (
  SELECT user_id AS entity, ep, event_id, {_tile_sql(6)} AS tile FROM src
),
g AS (
  SELECT entity, tile, ep - lag(ep) OVER (
    PARTITION BY entity, tile ORDER BY ep, event_id
  ) AS gap
  FROM b
),
per AS (
  SELECT entity, tile, count(*) AS n_gaps, sum(gap) AS sum_gap,
         CAST(sum(CAST(gap AS HUGEINT) * gap) AS HUGEINT) AS sq
  FROM g WHERE gap IS NOT NULL GROUP BY 1, 2
)
SELECT entity, tile, CAST(n_gaps AS BIGINT) AS n_gaps,
       CAST(sum_gap AS BIGINT) AS sum_gap,
       CAST(CAST(n_gaps AS HUGEINT) * sq
            - CAST(sum_gap AS HUGEINT) * sum_gap AS BIGINT) AS var_num
FROM per WHERE n_gaps >= 2
"""


REGISTRY.update({"visit_regularity": (q_visit_regularity, O_VISIT_REGULARITY)})


def q_kanon_cells(spark, sf_dir):
    """k-anonymity release audit (operators/tiling.py ``kanon_cells``):
    (cell, epoch-hour) cohorts with fewer than 3 distinct entities —
    the suppression list for publishing the mobility histogram. The
    oracle replays the cohort rollup and the threshold filter in SQL."""
    from ..operators.tiling import kanon_cells

    return kanon_cells(_traj(spark, sf_dir), res=6, k=3)


O_KANON_CELLS = f"""
WITH {TRAJ_SRC_CTE}
SELECT {_tile_sql(6)} AS tile, ep // 3600 AS hour,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_entities,
       CAST(count(*) AS BIGINT) AS n_events
FROM src GROUP BY 1, 2 HAVING count(DISTINCT user_id) < 3
"""


REGISTRY.update({"kanon_cells": (q_kanon_cells, O_KANON_CELLS)})


def q_dup_cluster_sizes(spark, sf_dir):
    """Near-dup cluster size census over the pinned image fixture
    (operators/dedup.py composition): pHash banding -> connected
    components -> per-cluster size -> size histogram, the curation
    dashboard's "how pathological is duplication" number. The oracle
    replays the quadratic pair spec and the recursive closure, then
    both rollups."""
    from ..operators.dedup import dedup_clusters, hamming_band_pairs
    from ..operators.tiling import assign_tiles

    img = assign_tiles(
        _synth_images(spark, sf_dir).select("image_id", "phash", "lat", "lon"),
        res=5,
    ).select("image_id", "phash", "tile")
    pairs = hamming_band_pairs(
        img, id_col="image_id", hash_col="phash", max_hamming=6,
        block_cols=("tile",),
    )
    cl = dedup_clusters(pairs, id_a="id_a", id_b="id_b")
    sizes = cl.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("cluster_size"))
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters")
    )


O_DUP_CLUSTER_SIZES = f"""
WITH RECURSIVE img AS (
  SELECT image_id, phash, {_tile_sql(5)} AS tile
  FROM read_parquet('{SYNTH_SF001_IMAGES}')
),
p AS (
  SELECT a.image_id AS a, b.image_id AS b
  FROM img a JOIN img b USING (tile)
  WHERE a.image_id < b.image_id AND bit_count(xor(a.phash, b.phash)) <= 6
),
e AS (SELECT a, b FROM p UNION SELECT b, a FROM p),
r(id, x) AS (
  SELECT DISTINCT a, a FROM e
  UNION
  SELECT r.id, e.b FROM r JOIN e ON e.a = r.x
),
m AS (SELECT id, min(x) AS cluster_id FROM r GROUP BY id),
s AS (SELECT cluster_id, count(*) AS cluster_size FROM m GROUP BY 1)
SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
       CAST(count(*) AS BIGINT) AS n_clusters
FROM s GROUP BY 1
"""


REGISTRY.update({"dup_cluster_sizes": (q_dup_cluster_sizes, O_DUP_CLUSTER_SIZES)})


def q_balanced_ranges(spark, sf_dir):
    """Equal-mass range-partition planner (operators/tiling.py
    ``balanced_ranges``): 16 tile-order cut cells with exact integer
    cumulative-mass thresholds. The oracle replays the histogram, the
    key-order cumulative window, the fan and the min-cut rollup."""
    from ..operators.tiling import balanced_ranges

    return balanced_ranges(geo_points(spark, sf_dir), res=8, buckets=16)


O_BALANCED_RANGES = f"""
WITH {PTS_CTE},
h AS (SELECT {_tile_sql(8)} AS tile, count(*) AS n FROM pts GROUP BY 1),
ranked AS (
  SELECT tile, sum(n) OVER (ORDER BY tile ASC
                            ROWS UNBOUNDED PRECEDING) AS cum
  FROM h
),
total AS (SELECT sum(n) AS total_rows FROM h),
fan AS (
  SELECT tile, cum, total_rows, k.bucket
  FROM ranked CROSS JOIN total
  CROSS JOIN (SELECT unnest(generate_series(1, 16)) AS bucket) k
  WHERE cum * 16 >= total_rows * bucket
),
best AS (SELECT bucket, min(tile) AS cut_tile FROM fan GROUP BY 1)
SELECT CAST(best.bucket AS INT) AS bucket, best.cut_tile,
       CAST(f.cum AS BIGINT) AS cum_rows,
       CAST(f.total_rows AS BIGINT) AS total_rows
FROM best JOIN fan f ON f.bucket = best.bucket AND f.tile = best.cut_tile
"""


REGISTRY.update({"balanced_ranges": (q_balanced_ranges, O_BALANCED_RANGES)})


def q_stream_speed(spark, sf_dir):
    """Streaming-vs-batch parity gate for the stateful teleport
    detector (streaming/microbatch.py ``stream_speed_outliers``): 3
    TIME-ORDERED staged files; flagged segments emit exactly once —
    gated against the SAME oracle as batch ``speed_outliers``."""
    from ..streaming.microbatch import run_speed_stream_once

    t = _traj(spark, sf_dir)
    return _run_staged_stream(
        _thirds(_stream_pdf(t, "ts", "event_id")),
        lambda src, ckpt: run_speed_stream_once(
            spark, src, ckpt, vmax_micro=VMAX_MICRO
        ),
    )


REGISTRY.update({"stream_speed": (q_stream_speed, O_SPEED_OUTLIERS)})


def q_region_terms(spark, sf_dir):
    """Per-region distinctive caption vocabulary: the pinned image
    fixture PIP-joined to the polygon dim, then the generic integer
    tf-idf ranker (operators/textstats.py ``distinctive_terms``) keyed
    by polygon_id — tf counts term hits across the whole region, df
    counts REGIONS containing the term, score = tf * 1e6 div df. The
    reference's per-object wikidata label ranking, lifted to a spatial
    corpus audit. The oracle replays each polygon's half-open
    predicates, the token unnest and the ranking in SQL."""
    from ..operators.pip_join import pip_join
    from ..operators.textstats import distinctive_terms

    img = _synth_images(spark, sf_dir).select("image_id", "caption", "lat", "lon")
    fenced = pip_join(img, geo_polygons_df(spark), res=8, id_col="image_id")
    return distinctive_terms(
        fenced.select("polygon_id", "caption"),
        k=5, id_col="polygon_id", text_col="caption",
    )


O_REGION_TERMS = (
    f"""
WITH img AS (
  SELECT caption, lat, lon FROM read_parquet('{SYNTH_SF001_IMAGES}')
),
regioned AS (
"""
    + " UNION ALL ".join(
        f"SELECT '{pid}' AS polygon_id, caption FROM img WHERE {pred}"
        for pid, pred in POLY_PRED_SQL.items()
    )
    + """
),
terms AS (
  SELECT polygon_id,
         unnest(regexp_extract_all(lower(caption), '[a-z]+')) AS term
  FROM regioned
),
tf AS (
  SELECT polygon_id, term, CAST(count(*) AS BIGINT) AS tf
  FROM terms GROUP BY 1, 2
),
dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
scored AS (
  SELECT tf.polygon_id, tf.term, tf.tf, dfreq.df,
         CAST(tf.tf * 1000000 // dfreq.df AS BIGINT) AS score,
         row_number() OVER (
           PARTITION BY tf.polygon_id
           ORDER BY tf.tf * 1000000 // dfreq.df DESC, tf.term ASC
         ) AS rnk
  FROM tf JOIN dfreq USING (term)
)
SELECT polygon_id, CAST(rnk AS INT) AS rnk, term, tf, df, score
FROM scored WHERE rnk <= 5
"""
)


REGISTRY.update({"region_terms": (q_region_terms, O_REGION_TERMS)})


def q_curve_locality(spark, sf_dir):
    """Space-filling-curve locality audit (operators/spatial.py
    ``curve_locality``): rook-pair key distances under row-major vs
    Hilbert ordering of the occupied res-8 cells — the measured
    justification for Hilbert-clustered snapshot compaction. The
    oracle chains the same per-level Hilbert expression text as
    ``hilbert_encode`` over the distinct-cell CTE."""
    from ..operators.spatial import curve_locality

    return curve_locality(geo_points(spark, sf_dir), res=HILBERT_RES)


def _o_curve_locality(res: int) -> str:
    from ..functions.cells import hilbert_level_exprs

    n = 1 << res
    ctes = [
        f"base AS (SELECT DISTINCT\n"
        f"  CAST(least(greatest(floor((lon + 180.0) / 360.0 * {n}.0), 0), {n - 1}) AS BIGINT) AS ix,\n"
        f"  CAST(least(greatest(floor((lat + 90.0) / 180.0 * {n}.0), 0), {n - 1}) AS BIGINT) AS iy\n"
        f"  FROM pts)",
        "h0 AS (SELECT ix, iy, ix AS x, iy AS y, 0 AS d FROM base)",
    ]
    lvl = 0
    s = n >> 1
    while s > 0:
        dinc, xn, yn = hilbert_level_exprs(s, n, "x", "y")
        ctes.append(
            f"h{lvl + 1} AS (SELECT ix, iy, {xn} AS x, {yn} AS y, "
            f"d + {dinc} AS d FROM h{lvl})"
        )
        lvl += 1
        s >>= 1
    return f"""WITH {PTS_CTE},
{",".join(ctes)},
cells AS (SELECT ix, iy, ix * {n} + iy AS rkey, d AS hkey FROM h{lvl}),
fan AS (
  SELECT ix + dx AS nx, iy + dy AS ny, rkey AS r1, hkey AS h1
  FROM cells, (VALUES (1, 0), (0, 1)) o(dx, dy)
),
pairs AS (
  SELECT f.r1, f.h1, c.rkey AS r2, c.hkey AS h2
  FROM fan f JOIN cells c ON c.ix = f.nx AND c.iy = f.ny
)
SELECT {res} AS res, CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(abs(r1 - r2)) AS BIGINT) AS rowmajor_dist,
       CAST(sum(abs(h1 - h2)) AS BIGINT) AS hilbert_dist
FROM pairs"""


O_CURVE_LOCALITY = _o_curve_locality(HILBERT_RES)


REGISTRY.update({"curve_locality": (q_curve_locality, O_CURVE_LOCALITY)})


def q_geo_decontaminate(spark, sf_dir):
    """Geographic decontamination report (operators/spatial.py
    ``geo_decontaminate``): trajectory points inside each eval holdout
    polygon (the spatial leak family member beside 5-gram/pHash/
    embedding decontamination) plus the __kept__ summary row. The
    oracle replays each polygon's half-open predicates and the
    distinct-removed kept arithmetic."""
    from ..operators.spatial import geo_decontaminate

    t = _traj(spark, sf_dir).withColumnRenamed("event_id", "point_id")
    return geo_decontaminate(
        t, geo_polygons_df(spark), res=8, id_col="point_id",
        entity_col="user_id",
    )


O_GEO_DECONTAMINATE = (
    f"""
WITH {TRAJ_SRC_CTE},
pts2 AS (SELECT event_id AS point_id, user_id, lat, lon FROM src)
"""
    + " UNION ALL ".join(
        f"""
SELECT '{pid}' AS region, CAST(count(*) AS BIGINT) AS n_removed,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_entities_removed
FROM pts2 WHERE {pred} HAVING count(*) > 0"""
        for pid, pred in POLY_PRED_SQL.items()
    )
    + f"""
UNION ALL
SELECT '__kept__' AS region,
       CAST((SELECT count(*) FROM pts2)
            - (SELECT count(*) FROM pts2
               WHERE {" OR ".join(POLY_PRED_SQL.values())}) AS BIGINT)
         AS n_removed,
       CAST(0 AS BIGINT) AS n_entities_removed
"""
)


REGISTRY.update({"geo_decontaminate": (q_geo_decontaminate, O_GEO_DECONTAMINATE)})


def q_user_cohorts(spark, sf_dir):
    """Cohort retention triangle (operators/tiling.py ``user_cohorts``):
    entities bucketed by first active epoch-week, distinct actives per
    (cohort, weeks since). The oracle replays the distinct activity
    pass, the per-entity min window and the rollup in SQL."""
    from ..operators.tiling import user_cohorts

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return user_cohorts(ev, "user_id", "ts", period_s=604_800)


O_USER_COHORTS = """
WITH active AS (
  SELECT DISTINCT user_id AS entity,
         CAST(floor(epoch(ts)) AS BIGINT) // 604800 AS period
  FROM events
),
cohorted AS (
  SELECT entity, period,
         min(period) OVER (PARTITION BY entity) AS cohort
  FROM active
)
SELECT cohort AS cohort_period, period - cohort AS periods_since,
       CAST(count(DISTINCT entity) AS BIGINT) AS n_active
FROM cohorted GROUP BY 1, 2
"""


REGISTRY.update({"user_cohorts": (q_user_cohorts, O_USER_COHORTS)})


def q_tile_diversity(spark, sf_dir):
    """Per-cell activity-mix Simpson diversity (operators/tiling.py
    ``tile_diversity``): exact rational over the (cell, event_type)
    histogram. The oracle replays both rollups in SQL."""
    from ..operators.tiling import tile_diversity

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev.createOrReplaceTempView("__div_events")
    t = spark.sql(
        f"SELECT event_type, {TRAJ_LAT_SQL} AS lat, {TRAJ_LON_SQL} AS lon "
        "FROM __div_events"
    )
    return tile_diversity(t, res=7)


O_TILE_DIVERSITY = f"""
WITH t AS (
  SELECT event_type, {TRAJ_LAT_SQL} AS lat, {TRAJ_LON_SQL} AS lon
  FROM events
),
hist AS (
  SELECT {_tile_sql(7)} AS tile, event_type AS ty, count(*) AS cnt
  FROM t GROUP BY 1, 2
)
SELECT tile, CAST(sum(cnt) AS BIGINT) AS n_events,
       CAST(count(*) AS BIGINT) AS n_types,
       CAST(sum(cnt * cnt) AS BIGINT) AS simpson_num,
       CAST(sum(cnt) * sum(cnt) AS BIGINT) AS simpson_den
FROM hist GROUP BY 1
"""


REGISTRY.update({"tile_diversity": (q_tile_diversity, O_TILE_DIVERSITY)})


def q_coverage_growth(spark, sf_dir):
    """Coverage-growth curve (operators/tiling.py ``coverage_growth``):
    first-seen cells per day + running cumulative. The oracle replays
    the first-seen rollup, the day census and the cumulative window."""
    from ..operators.tiling import coverage_growth

    return coverage_growth(_traj(spark, sf_dir), res=8)


O_COVERAGE_GROWTH = f"""
WITH {TRAJ_SRC_CTE},
per_tile AS (
  SELECT {_tile_sql(8)} AS tile, min(ep // 86400) AS first_day
  FROM src GROUP BY 1
),
days AS (
  SELECT first_day AS day, count(*) AS new_tiles FROM per_tile GROUP BY 1
)
SELECT day, CAST(new_tiles AS BIGINT) AS new_tiles,
       CAST(sum(new_tiles) OVER (ORDER BY day ASC
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS cum_tiles
FROM days
"""


REGISTRY.update({"coverage_growth": (q_coverage_growth, O_COVERAGE_GROWTH)})


def q_stream_cohorts(spark, sf_dir):
    """Streaming-vs-batch parity gate for the stateful cohort tracker
    (streaming/microbatch.py ``stream_cohorts``): 3 TIME-ORDERED staged
    files; each (entity, period) emits exactly once with its cohort —
    gated against the SAME oracle as batch ``user_cohorts``."""
    from ..streaming.microbatch import run_cohorts_stream_once

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", "ts", "event_id"
    )
    return _run_staged_stream(
        _thirds(_stream_pdf(ev, "ts", "event_id")),
        lambda src, ckpt: run_cohorts_stream_once(spark, src, ckpt, period_s=604_800),
    )


REGISTRY.update({"stream_cohorts": (q_stream_cohorts, O_USER_COHORTS)})


def q_stay_home_index(spark, sf_dir):
    """Stay-at-home index (operators/tiling.py ``stay_home_index``):
    modal-cell share per entity in exact milli. The oracle replays the
    histogram, the (cnt DESC, tile ASC) argmax and the ratio in SQL."""
    from ..operators.tiling import stay_home_index

    return stay_home_index(_traj(spark, sf_dir), res=6)


O_STAY_HOME = f"""
WITH {TRAJ_SRC_CTE},
hist AS (
  SELECT user_id AS entity, {_tile_sql(6)} AS tile, count(*) AS cnt
  FROM src GROUP BY 1, 2
),
r AS (
  SELECT entity, tile, cnt,
         sum(cnt) OVER (PARTITION BY entity) AS n_events,
         row_number() OVER (PARTITION BY entity
                            ORDER BY cnt DESC, tile ASC) AS rn
  FROM hist
)
SELECT entity, tile AS home_tile, CAST(n_events AS BIGINT) AS n_events,
       CAST(cnt AS BIGINT) AS home_events,
       CAST(CAST(1000 * cnt AS BIGINT) // CAST(n_events AS BIGINT) AS BIGINT)
         AS home_milli
FROM r WHERE rn = 1
"""


REGISTRY.update({"stay_home_index": (q_stay_home_index, O_STAY_HOME)})


def q_trip_circuity(spark, sf_dir):
    """Per-trip L1 circuity (operators/spatial.py ``trip_circuity``):
    travelled Manhattan length vs straight L1 displacement, exact
    integers, trips split at the trip_segments 4-hour rule. The oracle
    replays the window walk, the step sum and the endpoint frames."""
    from ..operators.spatial import trip_circuity

    return trip_circuity(
        _traj(spark, sf_dir), "user_id", "ts", max_gap_s=TRIP_GAP_S,
        order_tiebreak="event_id",
    )


O_TRIP_CIRCUITY = f"""
WITH {TRAJ_SRC_CTE},
b AS (
  SELECT user_id AS entity, ep, event_id,
         CAST(floor((lon + 180.0) * 1000000.0) AS BIGINT) AS x,
         CAST(floor((lat + 90.0) * 1000000.0) AS BIGINT) AS y
  FROM src
),
w1 AS (
  SELECT *, lag(ep) OVER w AS pep, lag(x) OVER w AS px, lag(y) OVER w AS py
  FROM b WINDOW w AS (PARTITION BY entity ORDER BY ep, event_id)
),
w2 AS (
  SELECT *, CASE WHEN pep IS NULL OR ep - pep > {TRIP_GAP_S}
                 THEN 1 ELSE 0 END AS new_trip
  FROM w1
),
w3 AS (
  SELECT *, sum(new_trip) OVER (PARTITION BY entity ORDER BY ep, event_id
                                ROWS UNBOUNDED PRECEDING) AS trip_id,
         CASE WHEN new_trip = 0 AND px IS NOT NULL
              THEN abs(x - px) + abs(y - py) ELSE 0 END AS step
  FROM w2
),
w4 AS (
  SELECT entity, trip_id, ep, event_id, x, y, step,
         first_value(x) OVER tw AS fx, first_value(y) OVER tw AS fy,
         last_value(x) OVER tw AS lx, last_value(y) OVER tw AS ly
  FROM w3
  WINDOW tw AS (
    PARTITION BY entity, trip_id ORDER BY ep, event_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
  )
),
per AS (
  SELECT entity, CAST(trip_id AS BIGINT) AS trip_id,
         CAST(count(*) AS BIGINT) AS n_points,
         CAST(sum(step) AS BIGINT) AS path_l1,
         CAST(max(abs(lx - fx) + abs(ly - fy)) AS BIGINT) AS disp_l1
  FROM w4 GROUP BY 1, 2
)
SELECT entity, trip_id, n_points, path_l1, disp_l1,
       CAST(1000 * path_l1 AS BIGINT) // disp_l1 AS circuity_milli
FROM per WHERE disp_l1 > 0
"""


REGISTRY.update({"trip_circuity": (q_trip_circuity, O_TRIP_CIRCUITY)})


def q_region_buffer(spark, sf_dir):
    """Raster polygon buffering (operators/spatial.py
    ``region_buffer_cells``): footprint vs Chebyshev-2 buffer-ring cell
    counts at res 10 over the shared polygon fixture (scale path:
    collect_threshold=0 forces per-polygon applyInPandas rasterize).
    The oracle replays the center-inside burn over the full lattice,
    the 25-offset dilation and the anti-join in SQL."""
    from ..operators.spatial import region_buffer_cells

    return region_buffer_cells(
        geo_polygons_df(spark), res=10, k=2, collect_threshold=0
    )


O_REGION_BUFFER = (
    "WITH " + _RASTER_CELLS_CTE + """,
fp AS (
"""
    + " UNION ALL ".join(
        f"SELECT '{pid}' AS polygon_id, tile FROM c WHERE {pred}".format(
            pid=pid, pred=pred
        )
        for pid, pred in POLY_PRED_SQL.items()
    )
    + f"""
),
dil AS (
  SELECT DISTINCT polygon_id,
         (tile // 1024 + dx) * 1024 + (tile % 1024 + dy) AS tile2
  FROM fp, (VALUES (-2, -2), (-2, -1), (-2, 0), (-2, 1), (-2, 2), (-1, -2), (-1, -1), (-1, 0), (-1, 1), (-1, 2), (0, -2), (0, -1), (0, 0), (0, 1), (0, 2), (1, -2), (1, -1), (1, 0), (1, 1), (1, 2), (2, -2), (2, -1), (2, 0), (2, 1), (2, 2)) o(dx, dy)
  WHERE tile // 1024 + dx BETWEEN 0 AND 1023
    AND tile % 1024 + dy BETWEEN 0 AND 1023
),
ring AS (
  SELECT d.polygon_id, d.tile2 FROM dil d
  WHERE NOT EXISTS (
    SELECT 1 FROM fp WHERE fp.polygon_id = d.polygon_id AND fp.tile = d.tile2
  )
),
inside AS (SELECT polygon_id, count(*) AS n_inside FROM fp GROUP BY 1),
buf AS (SELECT polygon_id, count(*) AS n_buffer FROM ring GROUP BY 1)
SELECT i.polygon_id, CAST(i.n_inside AS BIGINT) AS n_inside,
       CAST(COALESCE(b.n_buffer, 0) AS BIGINT) AS n_buffer
FROM inside i LEFT JOIN buf b ON b.polygon_id = i.polygon_id
"""
)


REGISTRY.update({"region_buffer": (q_region_buffer, O_REGION_BUFFER)})


def q_near_miss(spark, sf_dir):
    """Near-miss traffic audit (operators/spatial.py
    ``near_miss_visits``): trajectory events in each zone's Chebyshev-2
    res-10 buffer ring vs inside, exact milli share. The oracle reuses
    the lattice burn + dilation CTEs and joins the event-cell
    histogram."""
    from ..operators.spatial import near_miss_visits

    return near_miss_visits(
        _traj(spark, sf_dir), geo_polygons_df(spark), res=10, k=2,
        collect_threshold=0,
    )


_NEAR_OFFSETS = ", ".join(
    f"({dx}, {dy})" for dx in (-2, -1, 0, 1, 2) for dy in (-2, -1, 0, 1, 2)
)
O_NEAR_MISS = (
    "WITH " + _RASTER_CELLS_CTE + """,
fp AS (
"""
    + " UNION ALL ".join(
        f"SELECT '{pid}' AS polygon_id, tile FROM c WHERE {pred}"
        for pid, pred in POLY_PRED_SQL.items()
    )
    + f"""
),
dil AS (
  SELECT DISTINCT polygon_id,
         (tile // 1024 + dx) * 1024 + (tile % 1024 + dy) AS tile2
  FROM fp, (VALUES {{offs}}) o(dx, dy)
  WHERE tile // 1024 + dx BETWEEN 0 AND 1023
    AND tile % 1024 + dy BETWEEN 0 AND 1023
),
ring AS (
  SELECT d.polygon_id, d.tile2 AS tile FROM dil d
  WHERE NOT EXISTS (
    SELECT 1 FROM fp WHERE fp.polygon_id = d.polygon_id AND fp.tile = d.tile2
  )
),
src AS (
  SELECT {{lat}} AS lat, {{lon}} AS lon FROM events
),
hist AS (SELECT {{tile}} AS tile, count(*) AS n FROM src GROUP BY 1),
i AS (
  SELECT fp.polygon_id, sum(h.n) AS inside_events
  FROM fp JOIN hist h ON h.tile = fp.tile GROUP BY 1
),
r AS (
  SELECT ring.polygon_id, sum(h.n) AS ring_events
  FROM ring JOIN hist h ON h.tile = ring.tile GROUP BY 1
),
j AS (
  SELECT COALESCE(i.polygon_id, r.polygon_id) AS polygon_id,
         CAST(COALESCE(i.inside_events, 0) AS BIGINT) AS inside_events,
         CAST(COALESCE(r.ring_events, 0) AS BIGINT) AS ring_events
  FROM i FULL OUTER JOIN r ON i.polygon_id = r.polygon_id
)
SELECT polygon_id, inside_events, ring_events,
       CAST(1000 * ring_events AS BIGINT) // (inside_events + ring_events)
         AS ring_milli
FROM j WHERE inside_events + ring_events > 0
""".format(offs=_NEAR_OFFSETS, lat=TRAJ_LAT_SQL, lon=TRAJ_LON_SQL,
           tile=_tile_sql(10))
)


REGISTRY.update({"near_miss": (q_near_miss, O_NEAR_MISS)})


EMB_LAT_SQL = "35.0 + ((vec_id * 7919 + 13) % 120011) / CAST(120011.0 AS DOUBLE) * 10.0"
EMB_LON_SQL = "-5.0 + ((vec_id * 104729 + 7) % 130021) / CAST(130021.0 AS DOUBLE) * 15.0"


def q_semantic_drift(spark, sf_dir):
    """Semantic-terrain smoothness (operators/similarity.py
    ``semantic_drift``): exact cross-multiplied L1 distance between
    adjacent res-6 cells' mean embeddings over round(x*1000) integer
    components; vectors placed by the deterministic vec_id lattice. The
    oracle replays the flatten, the per-(cell, dim) sums, the rook fan
    and the rational rollup in SQL."""
    from ..operators.similarity import semantic_drift

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    emb.createOrReplaceTempView("__drift_emb")
    t = spark.sql(
        f"SELECT vec_id, embedding, {EMB_LAT_SQL} AS lat, "
        f"{EMB_LON_SQL} AS lon FROM __drift_emb"
    )
    return semantic_drift(t, res=6)


O_SEMANTIC_DRIFT = f"""
WITH src AS (
  SELECT vec_id, embedding, {EMB_LAT_SQL} AS lat, {EMB_LON_SQL} AS lon
  FROM embeddings
),
flat AS (
  SELECT {_tile_sql(6)} AS tile, CAST(i - 1 AS INT) AS dim,
         CAST(round(CAST(embedding[CAST(i AS INT)] AS DOUBLE) * 1000.0)
              AS BIGINT) AS xq
  FROM src JOIN generate_series(1, 8192) AS t(i) ON i <= len(embedding)
),
sums AS (
  SELECT tile, dim, CAST(sum(xq) AS BIGINT) AS s, count(*) AS nv
  FROM flat GROUP BY 1, 2
),
fan AS (
  SELECT (tile // 64 + dx) * 64 + (tile % 64 + dy) AS ntile,
         tile AS tile_a, dim, s AS s1, nv AS n1
  FROM sums, (VALUES (1, 0), (0, 1)) o(dx, dy)
  WHERE tile // 64 + dx BETWEEN 0 AND 63
    AND tile % 64 + dy BETWEEN 0 AND 63
),
pairs AS (
  SELECT f.tile_a, f.ntile AS tile_b, f.n1, m.nv AS n2,
         abs(f.s1 * m.nv - m.s * f.n1) AS term
  FROM fan f JOIN sums m ON m.tile = f.ntile AND m.dim = f.dim
)
SELECT tile_a, tile_b, CAST(max(n1) AS BIGINT) AS n_a,
       CAST(max(n2) AS BIGINT) AS n_b,
       CAST(sum(term) AS BIGINT) AS drift_num,
       CAST(max(n1) * max(n2) AS BIGINT) AS drift_den
FROM pairs GROUP BY 1, 2
"""


REGISTRY.update({"semantic_drift": (q_semantic_drift, O_SEMANTIC_DRIFT)})


def q_semantic_outliers(spark, sf_dir):
    """Semantic outlier cells (operators/similarity.py
    ``semantic_outliers``): per-cell L1 deviation of the mean embedding
    from the corpus mean, exact cross-multiplied integers. The oracle
    replays the flatten, both sum levels and the rational rollup."""
    from ..operators.similarity import semantic_outliers

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    emb.createOrReplaceTempView("__outlier_emb")
    t = spark.sql(
        f"SELECT vec_id, embedding, {EMB_LAT_SQL} AS lat, "
        f"{EMB_LON_SQL} AS lon FROM __outlier_emb"
    )
    return semantic_outliers(t, res=6)


O_SEMANTIC_OUTLIERS = f"""
WITH src AS (
  SELECT vec_id, embedding, {EMB_LAT_SQL} AS lat, {EMB_LON_SQL} AS lon
  FROM embeddings
),
flat AS (
  SELECT {_tile_sql(6)} AS tile, CAST(i - 1 AS INT) AS dim,
         CAST(round(CAST(embedding[CAST(i AS INT)] AS DOUBLE) * 1000.0)
              AS BIGINT) AS xq
  FROM src JOIN generate_series(1, 8192) AS t(i) ON i <= len(embedding)
),
sums AS (
  SELECT tile, dim, CAST(sum(xq) AS BIGINT) AS s, count(*) AS nv
  FROM flat GROUP BY 1, 2
),
gl AS (
  SELECT dim, CAST(sum(s) AS BIGINT) AS sg, CAST(sum(nv) AS BIGINT) AS ng
  FROM sums GROUP BY 1
)
SELECT m.tile, CAST(max(m.nv) AS BIGINT) AS nv,
       CAST(sum(abs(m.s * g.ng - g.sg * m.nv)) AS BIGINT) AS anom_num,
       CAST(max(m.nv * g.ng) AS BIGINT) AS anom_den
FROM sums m JOIN gl g ON g.dim = m.dim
GROUP BY 1
"""


REGISTRY.update({"semantic_outliers": (q_semantic_outliers, O_SEMANTIC_OUTLIERS)})


def q_hilbert_ranges(spark, sf_dir):
    """Hilbert scan-range planner (operators/spatial.py
    ``bbox_hilbert_ranges``): contiguous hkey ranges covering the G2
    box at res 8 — the ranges a reader pushes against compact_table's
    per-file hkey stats. The oracle regenerates the bbox lattice and
    chains the same per-level Hilbert expressions, then replays the
    gaps-and-islands rollup."""
    from ..operators.spatial import bbox_hilbert_ranges

    return bbox_hilbert_ranges(spark, res=8, lat0=39.5, lat1=42.0,
                               lon0=1.0, lon1=4.0)


def _o_hilbert_ranges() -> str:
    from ..functions.cells import hilbert_level_exprs

    n = 256
    ctes = [
        "base AS (SELECT x.ix, y.iy FROM generate_series(128, 130) x(ix), "
        "generate_series(184, 187) y(iy))",
        "h0 AS (SELECT ix, iy, ix AS x, iy AS y, 0 AS d FROM base)",
    ]
    lvl = 0
    s = n >> 1
    while s > 0:
        dinc, xn, yn = hilbert_level_exprs(s, n, "x", "y")
        ctes.append(
            f"h{lvl + 1} AS (SELECT ix, iy, {xn} AS x, {yn} AS y, "
            f"d + {dinc} AS d FROM h{lvl})"
        )
        lvl += 1
        s >>= 1
    return f"""WITH {",".join(ctes)},
keys AS (SELECT d AS hkey FROM h{lvl}),
flagged AS (
  SELECT hkey, CASE WHEN hkey - lag(hkey) OVER (ORDER BY hkey) = 1
                    THEN 0 ELSE 1 END AS newr
  FROM keys
),
rid AS (
  SELECT hkey, sum(newr) OVER (ORDER BY hkey ROWS UNBOUNDED PRECEDING) AS rid
  FROM flagged
)
SELECT CAST(min(hkey) AS BIGINT) AS range_start,
       CAST(max(hkey) AS BIGINT) AS range_end,
       CAST(count(*) AS BIGINT) AS n_cells
FROM rid GROUP BY rid"""


O_HILBERT_RANGES = _o_hilbert_ranges()


REGISTRY.update({"hilbert_ranges": (q_hilbert_ranges, O_HILBERT_RANGES)})


def q_dbscan(spark, sf_dir):
    """Full DBSCAN at radius 0.05, min_pts 3 (operators/spatial.py
    ``dbscan_clusters``): core/border/noise over the geo_clusters
    fixture (same hot-band exclusion — the oracle's recursive closure
    carries component^2 rows and the core subgraph must stay bounded at
    sf0.1). The oracle replays the quadratic neighbor count, the
    core-core closure, the min-cluster border assignment and the noise
    remainder."""
    from ..operators.spatial import dbscan_clusters

    pts = geo_points(spark, sf_dir).filter(
        (F.col("point_id") % 13 == 0) & (F.col("point_id") % 5 != 0)
    )
    return dbscan_clusters(pts, radius=0.05, min_pts=3)


O_DBSCAN = f"""
WITH RECURSIVE {PTS_CTE},
q AS (SELECT point_id, lat, lon FROM pts
      WHERE point_id % 13 = 0 AND point_id % 5 != 0),
p AS (
  SELECT a.point_id AS pa, b.point_id AS pb
  FROM q a JOIN q b
    ON (a.lat - b.lat) * (a.lat - b.lat) + (a.lon - b.lon) * (a.lon - b.lon)
       <= 0.05 * 0.05
  WHERE a.point_id <> b.point_id
),
deg AS (SELECT pa AS point_id, count(*) AS nn FROM p GROUP BY 1),
core AS (SELECT point_id FROM deg WHERE nn + 1 >= 3),
ce AS (
  SELECT pa AS a, pb AS b FROM p
  WHERE pa IN (SELECT point_id FROM core)
    AND pb IN (SELECT point_id FROM core)
),
r(id, x) AS (
  SELECT DISTINCT a, a FROM ce
  UNION
  SELECT r.id, ce.b FROM r JOIN ce ON ce.a = r.x
),
lbl AS (SELECT id, min(x) AS cluster_id FROM r GROUP BY id),
core_lab AS (
  SELECT c.point_id, coalesce(lbl.cluster_id, c.point_id) AS cluster_id
  FROM core c LEFT JOIN lbl ON lbl.id = c.point_id
),
border AS (
  SELECT p.pa AS point_id, min(cl.cluster_id) AS cluster_id
  FROM p JOIN core_lab cl ON cl.point_id = p.pb
  WHERE p.pa NOT IN (SELECT point_id FROM core)
  GROUP BY 1
)
SELECT point_id, CAST(cluster_id AS BIGINT) AS cluster_id,
       0 AS role FROM core_lab
UNION ALL
SELECT point_id, CAST(cluster_id AS BIGINT) AS cluster_id,
       1 AS role FROM border
UNION ALL
SELECT q.point_id, CAST(-1 AS BIGINT) AS cluster_id, 2 AS role
FROM q
WHERE q.point_id NOT IN (SELECT point_id FROM core)
  AND q.point_id NOT IN (SELECT point_id FROM border)
"""


REGISTRY.update({"dbscan": (q_dbscan, O_DBSCAN)})


def q_kdist_hist(spark, sf_dir):
    """k-distance (eps-tuning / k-coverage) histogram: each query
    point's distance to its 3rd-nearest feature, integer-quantized
    (floor(d2 * 1e9)) and bucketed by binary digit count — the knee
    plot behind every DBSCAN radius choice and the facility-coverage
    audit. The k-th neighbor comes from the exact ``knn_join``; its
    distance is recomputed JVM-side from joined coordinates with the
    SAME expression tree the oracle runs (the Arrow kernel's float is
    never compared). Returns (bucket, n_points, max_d2q)."""
    from ..operators.knn import knn_join

    pts = geo_points(spark, sf_dir).filter(F.col("point_id") % 97 == 0)
    feats = geo_features(spark, sf_dir)
    kth = knn_join(
        pts, feats, k=3, res=7, point_id="point_id", feature_id="id"
    ).filter(F.col("rank") == 3).select("point_id", "neighbor_id")
    j = (
        kth.join(pts.select("point_id", F.col("lat").alias("plat"),
                            F.col("lon").alias("plon")), "point_id")
        .join(feats.select(F.col("id").alias("neighbor_id"),
                           F.col("lat").alias("flat"),
                           F.col("lon").alias("flon")), "neighbor_id")
    )
    d2 = (
        (F.col("plat") - F.col("flat")) * (F.col("plat") - F.col("flat"))
        + (F.col("plon") - F.col("flon")) * (F.col("plon") - F.col("flon"))
    )
    q = F.floor(d2 * F.lit(1000000000.0)).cast("long")
    return (
        j.select(F.length(F.bin(q)).cast("int").alias("bucket"),
                 q.alias("d2q"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_points"),
             F.max("d2q").alias("max_d2q"))
    )


O_KDIST_HIST = f"""
WITH {PTS_CTE}, {FEATS_CTE},
q AS (SELECT * FROM pts WHERE point_id % 97 = 0),
d AS (
  SELECT q.point_id, f.id AS neighbor_id, q.lat AS plat, q.lon AS plon,
         f.lat AS flat, f.lon AS flon,
         row_number() OVER (PARTITION BY q.point_id ORDER BY
           (q.lat - f.lat) * (q.lat - f.lat)
             + (q.lon - f.lon) * (q.lon - f.lon) ASC,
           f.id ASC) AS rank
  FROM q CROSS JOIN feats f
),
kth AS (
  SELECT CAST(floor(((plat - flat) * (plat - flat)
               + (plon - flon) * (plon - flon)) * 1000000000.0) AS BIGINT)
           AS d2q
  FROM d WHERE rank = 3
)
SELECT CAST(length(bin(d2q)) AS INT) AS bucket,
       CAST(count(*) AS BIGINT) AS n_points,
       CAST(max(d2q) AS BIGINT) AS max_d2q
FROM kth GROUP BY 1
"""


REGISTRY.update({"kdist_hist": (q_kdist_hist, O_KDIST_HIST)})


def q_cluster_moments(spark, sf_dir):
    """Cluster shape census (operators/spatial.py ``cluster_moments``):
    exact central second moments + integer elongation octant per
    geo_clusters component (same bounded fixture). The oracle replays
    the closure, the per-cluster re-centering and the moment/octant
    arithmetic."""
    from ..operators.spatial import cluster_moments

    pts = geo_points(spark, sf_dir).filter(
        (F.col("point_id") % 13 == 0) & (F.col("point_id") % 5 != 0)
    )
    return cluster_moments(pts, radius=0.05)


O_CLUSTER_MOMENTS = f"""
WITH RECURSIVE {PTS_CTE},
q AS (SELECT point_id, lat, lon,
             CAST(floor((lon + 180.0) * 1000000.0) AS BIGINT) AS x,
             CAST(floor((lat + 90.0) * 1000000.0) AS BIGINT) AS y
      FROM pts WHERE point_id % 13 = 0 AND point_id % 5 != 0),
p AS (
  SELECT a.point_id AS pa, b.point_id AS pb
  FROM q a JOIN q b
    ON (a.lat - b.lat) * (a.lat - b.lat) + (a.lon - b.lon) * (a.lon - b.lon)
       <= 0.05 * 0.05
  WHERE a.point_id < b.point_id
),
e AS (SELECT pa AS a, pb AS b FROM p UNION SELECT pb, pa FROM p),
r(id, x) AS (
  SELECT DISTINCT a, a FROM e
  UNION
  SELECT r.id, e.b FROM r JOIN e ON e.a = r.x
),
lbl AS (SELECT id, min(x) AS cluster_id FROM r GROUP BY id),
lab AS (
  SELECT q.point_id, coalesce(lbl.cluster_id, q.point_id) AS cluster_id,
         q.x, q.y
  FROM q LEFT JOIN lbl ON lbl.id = q.point_id
),
mins AS (SELECT cluster_id, min(x) AS mx, min(y) AS my FROM lab GROUP BY 1),
c AS (
  SELECT l.cluster_id, l.x - m.mx AS dx, l.y - m.my AS dy
  FROM lab l JOIN mins m ON m.cluster_id = l.cluster_id
),
mom AS (
  SELECT cluster_id, count(*) AS n,
         CAST(sum(dx) AS BIGINT) AS sx, CAST(sum(dy) AS BIGINT) AS sy,
         CAST(sum(dx * dx) AS BIGINT) AS sxx,
         CAST(sum(dy * dy) AS BIGINT) AS syy,
         CAST(sum(dx * dy) AS BIGINT) AS sxy
  FROM c GROUP BY 1
),
alg AS (
  SELECT cluster_id, CAST(n AS BIGINT) AS n,
         n * sxx - sx * sx AS cxx,
         n * syy - sy * sy AS cyy,
         n * sxy - sx * sy AS cxy
  FROM mom
)
SELECT cluster_id, n,
       CAST(cxx AS BIGINT) AS cxx_num, CAST(cyy AS BIGINT) AS cyy_num,
       CAST(cxy AS BIGINT) AS cxy_num,
       CAST(CASE
         WHEN cxx - cyy >= 0 AND 2 * cxy >= 0 AND 2 * cxy <= cxx - cyy THEN 0
         WHEN cxx - cyy >= 0 AND 2 * cxy >= 0 THEN 1
         WHEN cxx - cyy < 0 AND 2 * cxy >= 0
              AND 2 * cxy > -(cxx - cyy) THEN 2
         WHEN cxx - cyy < 0 AND 2 * cxy >= 0 THEN 3
         WHEN cxx - cyy < 0 AND 2 * cxy < 0
              AND -(2 * cxy) <= -(cxx - cyy) THEN 4
         WHEN cxx - cyy < 0 AND 2 * cxy < 0 THEN 5
         WHEN cxx - cyy >= 0 AND 2 * cxy < 0 AND -(2 * cxy) > cxx - cyy THEN 6
         ELSE 7
       END AS INT) AS octant
FROM alg
"""


REGISTRY.update({"cluster_moments": (q_cluster_moments, O_CLUSTER_MOMENTS)})


def q_cellset_jaccard(spark, sf_dir):
    """Home-range Jaccard overlap (operators/spatial.py
    ``cellset_jaccard``): exact visited-cell-set intersection for the
    co-visitation candidate pairs — the set sibling of cell_hausdorff,
    same fixture. The oracle replays the distinct cell sets, the pair
    intersection and the milli ratio."""
    from ..operators.spatial import cellset_jaccard
    from ..operators.tiling import co_visitation

    t = _traj(spark, sf_dir)
    pairs = co_visitation(t, res=KCORE_RES, min_days=KCORE_MIN)
    return cellset_jaccard(t, pairs, res=HAUS_RES)


O_CELLSET_JACCARD = f"""
WITH {TRAJ_SRC_CTE},
pres AS (
  SELECT DISTINCT
    LEAST(GREATEST(CAST(FLOOR((lon + 180.0) / CAST(360.0 AS DOUBLE) * {_HKN}.0)
            AS BIGINT), 0), {_HKN - 1}) * {_HKN}
  + LEAST(GREATEST(CAST(FLOOR((lat + 90.0) / CAST(180.0 AS DOUBLE) * {_HKN}.0)
            AS BIGINT), 0), {_HKN - 1}) AS tile,
    ep // 86400 AS day, user_id AS entity
  FROM src
),
pairs AS (
  SELECT x.entity AS a, y.entity AS b
  FROM pres x JOIN pres y
    ON x.tile = y.tile AND x.day = y.day AND x.entity < y.entity
  GROUP BY 1, 2
  HAVING count(DISTINCT x.day) >= {KCORE_MIN}
),
cells AS (
  SELECT DISTINCT user_id AS entity,
    LEAST(GREATEST(CAST(FLOOR((lon + 180.0) / CAST(360.0 AS DOUBLE) * {_HN}.0)
            AS BIGINT), 0), {_HN - 1}) * {_HN}
  + LEAST(GREATEST(CAST(FLOOR((lat + 90.0) / CAST(180.0 AS DOUBLE) * {_HN}.0)
            AS BIGINT), 0), {_HN - 1}) AS tile
  FROM src
),
sizes AS (SELECT entity, count(*) AS nc FROM cells GROUP BY 1),
inter AS (
  SELECT p.a, p.b, count(*) AS n_inter
  FROM pairs p
  JOIN cells ca ON ca.entity = p.a
  JOIN cells cb ON cb.entity = p.b AND cb.tile = ca.tile
  GROUP BY 1, 2
)
SELECT p.a, p.b, CAST(sa.nc AS BIGINT) AS n_a, CAST(sb.nc AS BIGINT) AS n_b,
       CAST(COALESCE(i.n_inter, 0) AS BIGINT) AS n_inter,
       CAST(CAST(1000 * COALESCE(i.n_inter, 0) AS BIGINT)
            // CAST(sa.nc + sb.nc - COALESCE(i.n_inter, 0) AS BIGINT)
            AS BIGINT) AS jacc_milli
FROM pairs p
JOIN sizes sa ON sa.entity = p.a
JOIN sizes sb ON sb.entity = p.b
LEFT JOIN inter i ON i.a = p.a AND i.b = p.b
"""


REGISTRY.update({"cellset_jaccard": (q_cellset_jaccard, O_CELLSET_JACCARD)})


def q_trip_od(spark, sf_dir):
    """Trip-level OD matrix (operators/spatial.py ``trip_od``): one
    origin->destination row per 4-hour-gap trip, stationary trips
    excluded. The oracle replays the trip walk, the endpoint frames and
    the matrix rollup."""
    from ..operators.spatial import trip_od

    return trip_od(
        _traj(spark, sf_dir), "user_id", "ts", max_gap_s=TRIP_GAP_S,
        res=8, order_tiebreak="event_id",
    )


O_TRIP_OD = f"""
WITH {TRAJ_SRC_CTE},
b AS (
  SELECT user_id AS entity, ep, event_id, {_tile_sql(8)} AS tile FROM src
),
w1 AS (
  SELECT *, lag(ep) OVER (PARTITION BY entity ORDER BY ep, event_id) AS prev
  FROM b
),
w2 AS (
  SELECT *, sum(CASE WHEN prev IS NULL OR ep - prev > {TRIP_GAP_S}
                     THEN 1 ELSE 0 END)
              OVER (PARTITION BY entity ORDER BY ep, event_id
                    ROWS UNBOUNDED PRECEDING) AS trip_id
  FROM w1
),
w3 AS (
  SELECT entity, trip_id,
         first_value(tile) OVER tw AS ft, last_value(tile) OVER tw AS lt
  FROM w2
  WINDOW tw AS (
    PARTITION BY entity, trip_id ORDER BY ep, event_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
  )
),
per AS (
  SELECT DISTINCT entity, trip_id, ft AS from_tile, lt AS to_tile FROM w3
)
SELECT from_tile, to_tile, CAST(count(*) AS BIGINT) AS n_trips,
       CAST(count(DISTINCT entity) AS BIGINT) AS n_entities
FROM per WHERE from_tile <> to_tile GROUP BY 1, 2
"""


REGISTRY.update({"trip_od": (q_trip_od, O_TRIP_OD)})


def q_tile_medoid(spark, sf_dir):
    """Per-cell pHash medoid (operators/images.py ``tile_medoid``): the
    most-typical image per res-5 cell of the pinned fixture, ties to
    the smaller id. The oracle replays the within-cell quadratic
    Hamming sums and the (sum, id) argmin in SQL."""
    from ..operators.images import tile_medoid

    return tile_medoid(_synth_images(spark, sf_dir), res=5)


O_TILE_MEDOID = f"""
WITH img AS (
  SELECT image_id AS id, phash AS h, {_tile_sql(5)} AS tile
  FROM read_parquet('{SYNTH_SF001_IMAGES}')
),
sizes AS (SELECT tile, count(*) AS n_images FROM img GROUP BY 1),
cand AS (
  SELECT a.tile, a.id, CAST(sum(bit_count(xor(a.h, b.h))) AS BIGINT)
           AS sum_ham
  FROM img a JOIN img b ON a.tile = b.tile AND a.id <> b.id
  GROUP BY 1, 2
),
best AS (
  SELECT tile, id, sum_ham,
         row_number() OVER (PARTITION BY tile
                            ORDER BY sum_ham ASC, id ASC) AS rn
  FROM cand
)
SELECT b.tile, b.id AS medoid_id, CAST(s.n_images AS BIGINT) AS n_images,
       b.sum_ham AS sum_hamming
FROM best b JOIN sizes s ON s.tile = b.tile WHERE b.rn = 1
UNION ALL
SELECT i.tile, i.id AS medoid_id, CAST(1 AS BIGINT) AS n_images,
       CAST(0 AS BIGINT) AS sum_hamming
FROM img i JOIN sizes s ON s.tile = i.tile AND s.n_images = 1
"""


REGISTRY.update({"tile_medoid": (q_tile_medoid, O_TILE_MEDOID)})


def q_stream_trip_od(spark, sf_dir):
    """Streaming-vs-batch parity gate for the stateful trip-endpoint
    extractor (streaming/microbatch.py ``stream_trip_od``): 3
    TIME-ORDERED staged files; closed trips emit exactly once, the
    final open trip finishes like batch's trailing trip — gated against
    the SAME oracle as batch ``trip_od``."""
    from ..streaming.microbatch import run_trip_od_stream_once

    t = _traj(spark, sf_dir)
    return _run_staged_stream(
        _thirds(_stream_pdf(t, "ts", "event_id")),
        lambda src, ckpt: run_trip_od_stream_once(
            spark, src, ckpt, max_gap_s=TRIP_GAP_S, res=8
        ),
    )


REGISTRY.update({"stream_trip_od": (q_stream_trip_od, O_TRIP_OD)})


def q_dist_transform(spark, sf_dir):
    """Bounded Chebyshev distance transform (operators/tiling.py
    ``dist_transform``): distance to the nearest occupied res-8 cell
    within 3 rings, plus the attaining-source count. The oracle replays
    the occupancy pass, the 49-offset ring fan and the (d, cnt)
    struct-min in SQL."""
    from ..operators.tiling import dist_transform

    return dist_transform(geo_points(spark, sf_dir), res=8, max_d=3)


O_DIST_TRANSFORM = """
WITH {PTS_CTE},
occ AS (SELECT {tile} AS tile FROM pts GROUP BY 1),
fan AS (
  SELECT (tile // 256 + dx) * 256 + (tile % 256 + dy) AS tile2, d
  FROM occ, (VALUES (-3, -3, 3), (-3, -2, 3), (-3, -1, 3), (-3, 0, 3), (-3, 1, 3), (-3, 2, 3), (-3, 3, 3), (-2, -3, 3), (-2, -2, 2), (-2, -1, 2), (-2, 0, 2), (-2, 1, 2), (-2, 2, 2), (-2, 3, 3), (-1, -3, 3), (-1, -2, 2), (-1, -1, 1), (-1, 0, 1), (-1, 1, 1), (-1, 2, 2), (-1, 3, 3), (0, -3, 3), (0, -2, 2), (0, -1, 1), (0, 0, 0), (0, 1, 1), (0, 2, 2), (0, 3, 3), (1, -3, 3), (1, -2, 2), (1, -1, 1), (1, 0, 1), (1, 1, 1), (1, 2, 2), (1, 3, 3), (2, -3, 3), (2, -2, 2), (2, -1, 2), (2, 0, 2), (2, 1, 2), (2, 2, 2), (2, 3, 3), (3, -3, 3), (3, -2, 3), (3, -1, 3), (3, 0, 3), (3, 1, 3), (3, 2, 3), (3, 3, 3)) o(dx, dy, d)
  WHERE tile // 256 + dx BETWEEN 0 AND 255
    AND tile % 256 + dy BETWEEN 0 AND 255
),
counted AS (SELECT tile2 AS tile, d, count(*) AS cnt FROM fan GROUP BY 1, 2),
r AS (
  SELECT tile, d, cnt,
         row_number() OVER (PARTITION BY tile ORDER BY d ASC, cnt ASC) AS rn
  FROM counted
)
SELECT tile, CAST(d AS INT) AS dist, CAST(cnt AS BIGINT) AS n_sources
FROM r WHERE rn = 1
""".format(PTS_CTE=PTS_CTE, tile=_tile_sql(8))


REGISTRY.update({"dist_transform": (q_dist_transform, O_DIST_TRANSFORM)})


def q_tile_rose(spark, sf_dir):
    """Per-cell movement rose (operators/spatial.py ``tile_rose``):
    octant histogram of displacements by starting cell — the arrow-map
    field. The oracle replays the lag window, the three-comparison
    octant code and the rollup."""
    from ..operators.spatial import tile_rose

    return tile_rose(
        _traj(spark, sf_dir), "user_id", "ts", res=8,
        order_tiebreak="event_id",
    )


O_TILE_ROSE = f"""
WITH {TRAJ_SRC_CTE},
s AS (
  SELECT user_id,
         lat - lag(lat) OVER w AS dlat,
         lon - lag(lon) OVER w AS dlon,
         lag({_tile_sql(8)}) OVER w AS tile
  FROM src WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
m AS (
  SELECT user_id, tile,
         (CASE WHEN dlat >= 0 THEN 4 ELSE 0 END)
         + (CASE WHEN dlon >= 0 THEN 2 ELSE 0 END)
         + (CASE WHEN abs(dlat) > abs(dlon) THEN 1 ELSE 0 END) AS octant
  FROM s WHERE dlat IS NOT NULL
)
SELECT tile, CAST(octant AS INT) AS octant,
       CAST(count(*) AS BIGINT) AS n_moves,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_entities
FROM m GROUP BY 1, 2
"""


REGISTRY.update({"tile_rose": (q_tile_rose, O_TILE_ROSE)})


# The external driver's correctness artifact is positionally capped at the
# FIRST 50 dict entries (round-3 artifact keys == list(REGISTRY)[:50],
# verified). The rotation policy is CODE, not prose:
#
#     window = every query never driver-signed in a prior round
#              (new this round, or added after a window froze),
#              then backfill by least-recently-signed round ascending;
#              ties break in registry (insertion) order.
#
# _LAST_SIGNED maps query -> last round with a driver-signed green row
# (rows_match AND schema_match AND no err in CORRECTNESS_r*.json).
# Regenerate after each round with:  python tools/update_window.py
# Queries absent from the map have NEVER been signed and sort first.
# Rotated-out queries stay oracle-checked by the full
# tools/verify_oracles.py sweep at three tiers.
_LAST_SIGNED = {
    "agg_pushdown": 3,
    "count_by_type": 3,
    "coverage_stats": 3,
    "dedup_exact": 3,
    "doc_fingerprint": 3,
    "group_collect": 3,
    "hash_sample": 3,
    "hash_split": 3,
    "hll_estimate": 3,
    "key_frequency": 3,
    "lsh_band_buckets": 3,
    "minhash_signatures": 3,
    "ngram_jaccard_pairs": 3,
    "pivot_counts": 3,
    "quantile_estimate": 3,
    "regex_tokens": 3,
    "rolling_window": 3,
    "rollup_counts": 3,
    "salted_join": 3,
    "semi_anti_join": 3,
    "text_quality": 3,
    "topk_window": 3,
    "windowed_event_counts": 3,
    "adaptive_split": 4,
    "asof_join": 4,
    "audio_vad_segments": 4,
    "cdc_merge": 4,
    "cdc_merged_tags": 4,
    "corpus_prep": 4,
    "decontaminate": 4,
    "dedup_apply": 4,
    "dedup_canonical": 4,
    "dedup_clusters": 4,
    "doc_repetition": 4,
    "embedding_decontaminate": 4,
    "embedding_ivf_ann": 4,
    "embedding_ivf_lloyd": 4,
    "embedding_lsh_ann": 4,
    "embedding_lsh_ann_kernel": 4,
    "embedding_neardup_pairs": 4,
    "embedding_topk": 4,
    "embedding_topk_sharded": 4,
    "flatten_distinct": 4,
    "footprint_centroid": 4,
    "hll_registers": 4,
    "images_decontaminate": 4,
    "images_phash_pairs": 4,
    "images_tile_assign": 4,
    "interval_join": 4,
    "knn_join": 4,
    "knn_join_cogroup": 4,
    "lang_id": 4,
    "lsh_candidate_pairs": 4,
    "p31_type_join": 4,
    "pcm16_features": 4,
    "pii_redact": 4,
    "pip_join": 4,
    "pip_join_shuffled": 4,
    "pip_unique_owner": 4,
    "quantile_buckets": 4,
    "report_mediawiki_roundtrip": 4,
    "salted_repartition": 4,
    "sessionize": 4,
    "set_ops": 4,
    "simhash_neardup": 4,
    "simhash_pairs": 4,
    "stratified_sample": 4,
    "tile_assign": 4,
    "token_shard_pack": 4,
    "translate_with_wikidata": 4,
    "video_frame_stats": 4,
    "video_scene_cuts": 4,
    "wide_report": 4,
    "augment": 5,
    "bbox_join": 5,
    "blob_stats": 5,
    "block_sums": 5,
    "charset_stats": 5,
    "clip_segments": 5,
    "direction_rose": 5,
    "distance_join": 5,
    "distinctive_terms": 5,
    "doc_chunks": 5,
    "edge_stats": 5,
    "focal_stats": 5,
    "geo_clusters": 5,
    "geofence": 5,
    "geohash_encode": 5,
    "geohash_rollup": 5,
    "grouped_quantiles": 5,
    "heatmap_pyramid": 5,
    "heatmap_tiles": 5,
    "hex_rollup": 5,
    "hilbert_encode": 5,
    "hist_eq": 5,
    "idw": 5,
    "image_palette": 5,
    "image_patches": 5,
    "images_dedup": 5,
    "incremental_rollup": 5,
    "lang_coverage": 5,
    "moran_i": 5,
    "ngram_counts": 5,
    "od_flows": 5,
    "patch_dup_pairs": 5,
    "polygon_area": 5,
    "quadkey": 5,
    "raster_polygonize": 5,
    "rasterize_polygons": 5,
    "snap_to_segments": 5,
    "snapshot_compact": 5,
    "snapshot_expire": 5,
    "source_dup_profile": 5,
    "stream_dedup": 5,
    "stream_geofence": 5,
    "stream_heatmap": 5,
    "stream_od": 5,
    "tile_activity": 5,
    "tile_pyramid": 5,
    "trajectory_resample": 5,
    "trajectory_stats": 5,
    "vocab_growth": 5,
    "zonal_stats": 5,
    "aspect_buckets": 6,
    "bbox_filter": 6,
    "cell_histogram": 6,
    "clustering_coeff": 6,
    "co_visitation": 6,
    "conflict_keys": 6,
    "contour_cases": 6,
    "convex_hull": 6,
    "coverage_gaps": 6,
    "decayed_heatmap": 6,
    "embedding_ivf_pq_ann": 6,
    "embedding_pq_ann": 6,
    "embedding_pq_codes": 6,
    "embedding_pq_rescored": 6,
    "embedding_sq8_ann": 6,
    "embedding_sq8_codes": 6,
    "fill_empty_name": 6,
    "fill_empty_name_lang": 6,
    "fill_wikidata_from_wikipedia": 6,
    "fill_wikipedia_from_wikidata": 6,
    "gearys_c": 6,
    "geo_split": 6,
    "geo_split_report": 6,
    "hotspot_gi": 6,
    "hotspot_persistence": 6,
    "idw_loo": 6,
    "image_exposure": 6,
    "image_pyramid": 6,
    "image_quality": 6,
    "image_shard_pack": 6,
    "kring_smooth": 6,
    "letterbox": 6,
    "mosaic_pack": 6,
    "patch_tile_map": 6,
    "pip_antijoin": 6,
    "regex_name_lang": 6,
    "region_lang_audit": 6,
    "resize_nn": 6,
    "shortest_paths": 6,
    "simplify_radial": 6,
    "st_cube": 6,
    "stream_decayed_heatmap": 6,
    "stream_tile_cap": 6,
    "tile_anomaly": 6,
    "tile_cap_sample": 6,
    "tile_retention": 6,
    "triangle_counts": 6,
    "user_home_tile": 6,
    "zone_concurrency": 6,
    "zone_visits": 6,
    "activity_streaks": 7,
    "bilinear_interp": 7,
    "binomial_smooth": 7,
    "burst_dedup_keep": 7,
    "capture_bursts": 7,
    "cell_compact": 7,
    "cell_hausdorff": 7,
    "colocation_lift": 7,
    "covis_kcore": 7,
    "daily_motifs": 7,
    "dissolve_perimeter": 7,
    "dwell_time": 7,
    "embedding_ivf_pq_rescored": 7,
    "exploration_curve": 7,
    "heavy_hitters_cms": 7,
    "join_counts": 7,
    "knn_classify": 7,
    "lisa_quadrants": 7,
    "local_bridges": 7,
    "od_gravity_residual": 7,
    "od_reciprocity": 7,
    "orientation_hist": 7,
    "polygon_adjacency": 7,
    "quadrat_chi2": 7,
    "radius_of_gyration": 7,
    "region_image_stats": 7,
    "region_px_quantiles": 7,
    "ripley_k": 7,
    "semivariogram": 7,
    "snap_to_boundary": 7,
    "source_overlap": 7,
    "spatial_kfold": 7,
    "staypoints": 7,
    "stream_dwell": 7,
    "stream_gyration": 7,
    "stream_od_late": 7,
    "stream_staypoints": 7,
    "stream_tile_first_seen": 7,
    "tile_burstiness": 7,
    "tile_changepoint": 7,
    "tile_coverage_curve": 7,
    "tile_first_seen": 7,
    "tile_flow_divergence": 7,
    "tile_gini": 7,
    "tile_pagerank": 7,
    "tile_predictability": 7,
    "trip_length_hist": 7,
    "visit_concentration": 7,
    "wait_time_hist": 7,
    "weekday_contrast": 7,
}

# (driver-window reorder moved to end of module so late-registered
# queries participate in the never-signed-first rotation — r8)


def q_voronoi_assign(spark, sf_dir):
    """Discrete Voronoi allocation of the activity raster among
    facility cells (operators/tiling.py ``voronoi_assign``): each
    occupied point cell within 3 rings of a customer-feature cell is
    assigned to its nearest seed cell (ties to the smaller id) with its
    point mass. The oracle replays both occupancy passes, the 49-offset
    seed fan and the (d, seed) struct-min in SQL."""
    from ..operators.tiling import voronoi_assign

    return voronoi_assign(
        geo_points(spark, sf_dir), geo_features(spark, sf_dir), res=8, max_d=3
    )


_VOR_FAN = ", ".join(
    f"({dx}, {dy}, {max(abs(dx), abs(dy))})"
    for dx in range(-3, 4)
    for dy in range(-3, 4)
)

O_VORONOI_ASSIGN = f"""
WITH {PTS_CTE}, {FEATS_CTE},
sc AS (SELECT {_tile_sql(8)} AS seed_tile FROM feats GROUP BY 1),
ph AS (SELECT {_tile_sql(8)} AS tile, count(*) AS n_points FROM pts GROUP BY 1),
fan AS (
  SELECT (seed_tile // 256 + dx) * 256 + (seed_tile % 256 + dy) AS tile,
         d, seed_tile
  FROM sc, (VALUES {_VOR_FAN}) o(dx, dy, d)
  WHERE seed_tile // 256 + dx BETWEEN 0 AND 255
    AND seed_tile % 256 + dy BETWEEN 0 AND 255
),
r AS (
  SELECT tile, seed_tile, d,
         row_number() OVER (PARTITION BY tile ORDER BY d ASC, seed_tile ASC)
           AS rn
  FROM fan
)
SELECT ph.tile, CAST(n_points AS BIGINT) AS n_points,
       r.seed_tile, CAST(d AS INT) AS dist
FROM ph JOIN r ON r.tile = ph.tile AND rn = 1
"""


REGISTRY.update({"voronoi_assign": (q_voronoi_assign, O_VORONOI_ASSIGN)})


def q_stream_heavy_hitters(spark, sf_dir):
    """Streaming-vs-batch parity gate for the stateful count-min sketch
    (streaming/microbatch.py ``stream_cms_hitters``): 3 staged files;
    sketch counters and key counts are pure additive state, so the
    final heavy-hitter frame matches batch ``cms_heavy_hitters`` under
    any batching — gated against the SAME oracle (20th parity kernel)."""
    from ..streaming.microbatch import run_cms_stream_once

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev.createOrReplaceTempView("__scms_events")
    t = spark.sql(
        f"SELECT event_id, {TRAJ_LAT_SQL} AS lat, {TRAJ_LON_SQL} AS lon "
        "FROM __scms_events"
    )
    return _run_staged_stream(
        _thirds(_stream_pdf(t, "event_id")),
        lambda src, ckpt: run_cms_stream_once(spark, src, ckpt, res=8, mass_denom=256),
    )


REGISTRY.update({"stream_heavy_hitters": (q_stream_heavy_hitters, O_HEAVY_HITTERS_CMS)})


def q_dup_spans(spark, sf_dir):
    """Cross-document duplicate 8-token span coverage
    (operators/textstats.py ``dup_spans``): the exact-substring dedup
    signal over the documents table. The oracle replays the window
    fan-out, the shared-window marking and the per-doc rollup with
    DuckDB list functions."""
    from ..operators.textstats import dup_spans

    return dup_spans(spark.read.parquet(f"{sf_dir}/documents.parquet"), k=8)


O_DUP_SPANS = """
WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
w AS (
  SELECT doc_id, array_to_string(toks[i:i+7], ' ') AS win
  FROM d, UNNEST(generate_series(1, len(toks) - 7)) AS t(i)
  WHERE len(toks) >= 8
),
g AS (SELECT win, doc_id, count(*) AS cnt FROM w GROUP BY 1, 2),
g2 AS (
  SELECT doc_id, cnt, count(*) OVER (PARTITION BY win) AS nd FROM g
)
SELECT doc_id,
       CAST(sum(cnt) AS BIGINT) AS n_windows,
       CAST(sum(CASE WHEN nd >= 2 THEN cnt ELSE 0 END) AS BIGINT)
         AS n_dup_windows,
       CAST((1000 * sum(CASE WHEN nd >= 2 THEN cnt ELSE 0 END))
            // sum(cnt) AS BIGINT) AS dup_milli
FROM g2 GROUP BY 1
"""


REGISTRY.update({"dup_spans": (q_dup_spans, O_DUP_SPANS)})


def q_region_medoid(spark, sf_dir):
    """Per-region pHash medoid (operators/images.py ``region_medoid``):
    the most-typical image of each polygon's PIP-joined set, ties to
    the smaller id. The oracle replays each polygon's half-open
    predicates, the within-region quadratic Hamming sums and the
    (sum, id) argmin in SQL."""
    from ..operators.images import region_medoid

    return region_medoid(
        _synth_images(spark, sf_dir), geo_polygons_df(spark), res=8
    )


O_REGION_MEDOID = (
    f"""
WITH img AS (
  SELECT image_id AS id, phash AS h, lat, lon
  FROM read_parquet('{SYNTH_SF001_IMAGES}')
),
owned AS (
"""
    + "\n  UNION ALL\n".join(
        f"  SELECT '{pid}' AS polygon_id, id, h FROM img WHERE {pred}"
        for pid, pred in POLY_PRED_SQL.items()
    )
    + """
),
sizes AS (SELECT polygon_id, count(*) AS n_images FROM owned GROUP BY 1),
cand AS (
  SELECT a.polygon_id, a.id,
         CAST(sum(bit_count(xor(a.h, b.h))) AS BIGINT) AS sum_ham
  FROM owned a
  JOIN owned b ON a.polygon_id = b.polygon_id AND a.id <> b.id
  GROUP BY 1, 2
),
best AS (
  SELECT polygon_id, id, sum_ham,
         row_number() OVER (PARTITION BY polygon_id
                            ORDER BY sum_ham ASC, id ASC) AS rn
  FROM cand
)
SELECT b.polygon_id, b.id AS medoid_id,
       CAST(s.n_images AS BIGINT) AS n_images, b.sum_ham AS sum_hamming
FROM best b JOIN sizes s ON s.polygon_id = b.polygon_id WHERE b.rn = 1
UNION ALL
SELECT o.polygon_id, o.id AS medoid_id, CAST(1 AS BIGINT) AS n_images,
       CAST(0 AS BIGINT) AS sum_hamming
FROM owned o JOIN sizes s ON s.polygon_id = o.polygon_id AND s.n_images = 1
"""
)


REGISTRY.update({"region_medoid": (q_region_medoid, O_REGION_MEDOID)})


def q_line_density(spark, sf_dir):
    """Segment line-density raster (operators/spatial.py
    ``line_density``): every res-8 cell crossed by a trajectory
    segment, with traversal + entity counts. The oracle replays the lag
    window, the integer-interpolated cell walk (generate_series over
    the Chebyshev span) and the per-segment distinct in SQL."""
    from ..operators.spatial import line_density

    return line_density(
        _traj(spark, sf_dir), "user_id", "ts", res=8,
        order_tiebreak="event_id",
    )


O_LINE_DENSITY = f"""
WITH {TRAJ_SRC_CTE},
g AS (
  SELECT user_id, ts, event_id, {_tile_sql(8)} AS tile,
         lag({_tile_sql(8)}) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
         ) AS prev
  FROM src
),
seg AS (
  SELECT user_id, ts, event_id,
         prev // 256 AS x0, prev % 256 AS y0,
         tile // 256 AS x1, tile % 256 AS y1,
         greatest(abs(tile // 256 - prev // 256),
                  abs(tile % 256 - prev % 256)) AS s
  FROM g WHERE prev IS NOT NULL
),
cells AS (
  SELECT DISTINCT user_id, ts, event_id,
         CASE WHEN s = 0 THEN x0 ELSE (x0*(s-i) + x1*i) // s END AS cx,
         CASE WHEN s = 0 THEN y0 ELSE (y0*(s-i) + y1*i) // s END AS cy
  FROM seg, UNNEST(generate_series(0, s)) t(i)
)
SELECT cx * 256 + cy AS tile,
       CAST(count(*) AS BIGINT) AS n_segments,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_entities
FROM cells GROUP BY 1
"""


REGISTRY.update({"line_density": (q_line_density, O_LINE_DENSITY)})


def q_embedding_dim_stats(spark, sf_dir):
    """Per-dimension whitening statistics (operators/similarity.py
    ``embedding_dim_stats``): exact integer count/sum/variance-numerator
    and min/max per embedding dimension. The oracle replays the flatten
    and the moment algebra in SQL."""
    from ..operators.similarity import embedding_dim_stats

    return embedding_dim_stats(
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    )


O_EMBEDDING_DIM_STATS = """
WITH flat AS (
  SELECT CAST(i - 1 AS INT) AS dim,
         CAST(round(CAST(embedding[CAST(i AS INT)] AS DOUBLE) * 1000.0)
              AS BIGINT) AS xq
  FROM embeddings JOIN generate_series(1, 8192) AS t(i)
    ON i <= len(embedding)
)
SELECT dim, CAST(count(*) AS BIGINT) AS n, CAST(sum(xq) AS BIGINT) AS s,
       CAST(count(*) * sum(xq * xq) - sum(xq) * sum(xq) AS BIGINT)
         AS var_num,
       CAST(min(xq) AS BIGINT) AS min_q, CAST(max(xq) AS BIGINT) AS max_q
FROM flat GROUP BY 1
"""


REGISTRY.update({"embedding_dim_stats": (q_embedding_dim_stats, O_EMBEDDING_DIM_STATS)})


def q_msd_curve(spark, sf_dir):
    """Step-lag MSD curve (operators/spatial.py ``msd_curve``):
    per-entity exact integer squared-displacement sums at lags 1..4.
    The oracle replays the micro-degree quantization, the four lead
    windows and the rollup in SQL."""
    from ..operators.spatial import msd_curve

    return msd_curve(
        _traj(spark, sf_dir), "user_id", "ts", max_lag=4,
        order_tiebreak="event_id",
    )


O_MSD_CURVE = f"""
WITH {TRAJ_SRC_CTE},
q AS (
  SELECT user_id AS entity, ts, event_id,
         CAST(floor(lat * 1000000.0) AS BIGINT) AS x,
         CAST(floor(lon * 1000000.0) AS BIGINT) AS y
  FROM src
),
l AS (
  SELECT entity, 1 AS lag_k,
         lead(x, 1) OVER w1 - x AS dx, lead(y, 1) OVER w1 - y AS dy
  FROM q WINDOW w1 AS (PARTITION BY entity ORDER BY ts, event_id)
  UNION ALL
  SELECT entity, 2 AS lag_k,
         lead(x, 2) OVER w2 - x AS dx, lead(y, 2) OVER w2 - y AS dy
  FROM q WINDOW w2 AS (PARTITION BY entity ORDER BY ts, event_id)
  UNION ALL
  SELECT entity, 3 AS lag_k,
         lead(x, 3) OVER w3 - x AS dx, lead(y, 3) OVER w3 - y AS dy
  FROM q WINDOW w3 AS (PARTITION BY entity ORDER BY ts, event_id)
  UNION ALL
  SELECT entity, 4 AS lag_k,
         lead(x, 4) OVER w4 - x AS dx, lead(y, 4) OVER w4 - y AS dy
  FROM q WINDOW w4 AS (PARTITION BY entity ORDER BY ts, event_id)
)
SELECT entity, CAST(lag_k AS INT) AS lag_k,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(dx * dx + dy * dy) AS BIGINT) AS sum_disp2
FROM l WHERE dx IS NOT NULL GROUP BY 1, 2
"""


REGISTRY.update({"msd_curve": (q_msd_curve, O_MSD_CURVE)})


def q_degree_assortativity(spark, sf_dir):
    """Degree assortativity (operators/graphs.py
    ``degree_assortativity``) of the co-visitation graph — do social
    hubs co-locate with hubs? Exact integer Newman-r pieces. The oracle
    replays the pair gate, the degree histogram and the moment algebra
    in SQL."""
    from ..operators.graphs import degree_assortativity
    from ..operators.tiling import co_visitation

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev.createOrReplaceTempView("__assort_events")
    t = spark.sql(
        f"SELECT user_id, ts, {TRAJ_LAT_SQL} AS lat, {TRAJ_LON_SQL} AS lon "
        "FROM __assort_events"
    )
    pairs = co_visitation(t, res=KCORE_RES, min_days=KCORE_MIN)
    return degree_assortativity(pairs)


O_DEGREE_ASSORT = f"""
WITH src AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ep,
         {TRAJ_LAT_SQL} AS lat, {TRAJ_LON_SQL} AS lon
  FROM events
),
pres AS (
  SELECT DISTINCT
    LEAST(GREATEST(CAST(FLOOR((lon + 180.0) / CAST(360.0 AS DOUBLE) * {_KCN}.0)
            AS BIGINT), 0), {_KCN - 1}) * {_KCN}
  + LEAST(GREATEST(CAST(FLOOR((lat + 90.0) / CAST(180.0 AS DOUBLE) * {_KCN}.0)
            AS BIGINT), 0), {_KCN - 1}) AS tile,
    ep // 86400 AS day, user_id AS entity
  FROM src
),
prs AS (
  SELECT DISTINCT p.entity AS a, q.entity AS b, p.day
  FROM pres p JOIN pres q
    ON q.tile = p.tile AND q.day = p.day AND p.entity < q.entity
),
e AS MATERIALIZED (
  SELECT a, b FROM prs GROUP BY a, b HAVING count(*) >= {KCORE_MIN}
),
d AS MATERIALIZED (
  SELECT node, count(*) AS deg FROM (
    SELECT a AS node FROM e UNION ALL SELECT b AS node FROM e
  ) GROUP BY 1
),
m AS (
  SELECT count(*) AS n_edges,
         sum(da.deg * db.deg) AS sum_prod,
         sum(da.deg + db.deg) AS sum_deg,
         sum(da.deg * da.deg + db.deg * db.deg) AS sum_sq
  FROM e JOIN d da ON da.node = e.a JOIN d db ON db.node = e.b
)
SELECT CAST(n_edges AS BIGINT) AS n_edges,
       CAST(sum_prod AS BIGINT) AS sum_prod,
       CAST(sum_deg AS BIGINT) AS sum_deg,
       CAST(sum_sq AS BIGINT) AS sum_sq,
       CAST(4 * n_edges * sum_prod - sum_deg * sum_deg AS BIGINT) AS r_num,
       CAST(2 * n_edges * sum_sq - sum_deg * sum_deg AS BIGINT) AS r_den
FROM m
"""


REGISTRY.update({"degree_assortativity": (q_degree_assortativity, O_DEGREE_ASSORT)})


def q_stream_line_density(spark, sf_dir):
    """Streaming-vs-batch parity gate for the stateful segment
    rasterizer (streaming/microbatch.py ``stream_line_density``): 3
    TIME-ORDERED staged files; every segment's cell walk emits exactly
    once when its end ping arrives — gated against the SAME oracle as
    batch ``line_density`` (21st parity kernel)."""
    from ..streaming.microbatch import run_line_density_stream_once

    t = _traj(spark, sf_dir)
    return _run_staged_stream(
        _thirds(_stream_pdf(t, "ts", "event_id")),
        lambda src, ckpt: run_line_density_stream_once(spark, src, ckpt, res=8),
    )


REGISTRY.update({"stream_line_density": (q_stream_line_density, O_LINE_DENSITY)})


def q_doc_scorecard(spark, sf_dir):
    """Curation scorecard (operators/textstats.py ``doc_scorecard``):
    tokens + repetition + cross-doc dup coverage + language guess +
    the integer-exact keep decision, one row per document. The oracle
    composes the doc_repetition, lang_id and dup_spans replays and the
    threshold rule in SQL."""
    from ..operators.textstats import doc_scorecard

    return doc_scorecard(spark.read.parquet(f"{sf_dir}/documents.parquet"))


O_DOC_SCORECARD = """
WITH d AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
base AS (
  SELECT doc_id,
         CAST(len(toks) AS BIGINT) AS tokens,
         CAST(CASE WHEN len(toks) >= 3 THEN len(toks) - 2 ELSE 0 END
              AS BIGINT) AS n_ngrams,
         CAST(CASE WHEN len(toks) >= 3
              THEN len(list_distinct(list_transform(
                   generate_series(1, len(toks) - 2),
                   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])))
              ELSE 0 END AS BIGINT) AS n_distinct,
         {s_en}, {s_es}, {s_fr}, {s_de}
  FROM d
),
scored AS (
  SELECT doc_id, tokens,
         CAST(CASE WHEN n_ngrams > 0
              THEN (1000 * (n_ngrams - n_distinct)) // n_ngrams
              ELSE 0 END AS BIGINT) AS rep_milli,
         CASE WHEN greatest(score_en, score_es, score_fr, score_de) = 0 THEN 'unk'
              WHEN score_en = greatest(score_en, score_es, score_fr, score_de) THEN 'en'
              WHEN score_es = greatest(score_en, score_es, score_fr, score_de) THEN 'es'
              WHEN score_fr = greatest(score_en, score_es, score_fr, score_de) THEN 'fr'
              ELSE 'de' END AS guess
  FROM base
),
w AS (
  SELECT doc_id, array_to_string(toks[i:i+7], ' ') AS win
  FROM d, UNNEST(generate_series(1, len(toks) - 7)) AS t(i)
  WHERE len(toks) >= 8
),
g AS (SELECT win, doc_id, count(*) AS cnt FROM w GROUP BY 1, 2),
g2 AS (
  SELECT doc_id, cnt, count(*) OVER (PARTITION BY win) AS nd FROM g
),
dupm AS (
  SELECT doc_id,
         CAST((1000 * sum(CASE WHEN nd >= 2 THEN cnt ELSE 0 END))
              // sum(cnt) AS BIGINT) AS dup_milli
  FROM g2 GROUP BY 1
)
SELECT s.doc_id, s.tokens, s.rep_milli,
       COALESCE(m.dup_milli, 0) AS dup_milli, s.guess,
       (s.tokens >= 20 AND s.rep_milli <= 200
        AND COALESCE(m.dup_milli, 0) <= 500) AS keep
FROM scored s LEFT JOIN dupm m ON m.doc_id = s.doc_id
""".format(
    s_en=_o_lang_score("en", [" the ", " a "]),
    s_es=_o_lang_score("es", [" el ", " la "]),
    s_fr=_o_lang_score("fr", [" le ", " la "]),
    s_de=_o_lang_score("de", [" der ", " die "]),
)


REGISTRY.update({"doc_scorecard": (q_doc_scorecard, O_DOC_SCORECARD)})


def q_majority_pyramid(spark, sf_dir):
    """Categorical majority pyramid res 8 -> 6 (operators/tiling.py
    ``majority_pyramid``): modal event_type per base cell, then
    majority-of-child-modes promotion, ties to the smaller category.
    The oracle unrolls both promotion rounds in SQL."""
    from ..operators.tiling import majority_pyramid

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev.createOrReplaceTempView("__majpyr_events")
    t = spark.sql(
        f"SELECT event_type, {TRAJ_LAT_SQL} AS lat, {TRAJ_LON_SQL} AS lon "
        "FROM __majpyr_events"
    )
    return majority_pyramid(t, "event_type", res_hi=8, res_lo=6)


def _o_mode_level(src: str) -> str:
    return f"""(
  SELECT tile, mode, n_children, n_votes FROM (
    SELECT tile, mode, votes AS n_votes,
           sum(votes) OVER (PARTITION BY tile) AS n_children,
           row_number() OVER (PARTITION BY tile
                              ORDER BY votes DESC, mode ASC) AS rn
    FROM {src}
  ) WHERE rn = 1
)"""


O_MAJORITY_PYRAMID = f"""
WITH src AS (
  SELECT event_type, {TRAJ_LAT_SQL} AS lat, {TRAJ_LON_SQL} AS lon FROM events
),
h8 AS (
  SELECT {_tile_sql(8)} AS tile, event_type AS mode, count(*) AS votes
  FROM src GROUP BY 1, 2
),
m8 AS {_o_mode_level("h8")},
v7 AS (
  SELECT (tile // 256 // 2) * 128 + (tile % 256) // 2 AS tile, mode,
         count(*) AS votes
  FROM m8 GROUP BY 1, 2
),
m7 AS {_o_mode_level("v7")},
v6 AS (
  SELECT (tile // 128 // 2) * 64 + (tile % 128) // 2 AS tile, mode,
         count(*) AS votes
  FROM m7 GROUP BY 1, 2
),
m6 AS {_o_mode_level("v6")}
SELECT tile, mode, CAST(n_children AS BIGINT) AS n_children,
       CAST(n_votes AS BIGINT) AS n_votes
FROM m6
"""


REGISTRY.update({"majority_pyramid": (q_majority_pyramid, O_MAJORITY_PYRAMID)})


def q_tile_autocov(spark, sf_dir):
    """Per-cell daily-count autocovariance at lags 1..3
    (operators/tiling.py ``tile_autocov``): exact integer aligned-
    segment covariance numerators over the 30-day fixture span, missing
    days as algebraic zeros. The oracle replays the histogram, the lag
    join and both marginals in SQL."""
    from ..operators.tiling import tile_autocov

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev.createOrReplaceTempView("__acov_events")
    t = spark.sql(
        f"SELECT ts, {TRAJ_LAT_SQL} AS lat, {TRAJ_LON_SQL} AS lon "
        "FROM __acov_events"
    )
    return tile_autocov(t, res=7, max_lag=3)


O_TILE_AUTOCOV = f"""
WITH src AS (
  SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
         {TRAJ_LAT_SQL} AS lat, {TRAJ_LON_SQL} AS lon
  FROM events
),
h AS (SELECT {_tile_sql(7)} AS tile, day, count(*) AS c FROM src GROUP BY 1, 2),
g AS (SELECT min(day) AS d0, max(day) AS d1 FROM h),
ks AS (SELECT k FROM (VALUES (1), (2), (3)) t(k)),
prod AS (
  SELECT a.tile, k AS lag_k, sum(a.c * b.c) AS sum_prod
  FROM h a CROSS JOIN ks JOIN h b ON b.tile = a.tile AND b.day = a.day + k
  GROUP BY 1, 2
),
hd AS (
  SELECT tile, k AS lag_k, sum(c) AS head_sum
  FROM h CROSS JOIN ks CROSS JOIN g WHERE day <= d1 - k GROUP BY 1, 2
),
tl AS (
  SELECT tile, k AS lag_k, sum(c) AS tail_sum
  FROM h CROSS JOIN ks CROSS JOIN g WHERE day >= d0 + k GROUP BY 1, 2
),
base AS (SELECT DISTINCT tile FROM h)
SELECT base.tile, CAST(k AS INT) AS lag_k,
       CAST(d1 - d0 + 1 - k AS BIGINT) AS n_terms,
       CAST(COALESCE(sum_prod, 0) AS BIGINT) AS sum_prod,
       CAST(COALESCE(head_sum, 0) AS BIGINT) AS head_sum,
       CAST(COALESCE(tail_sum, 0) AS BIGINT) AS tail_sum,
       CAST((d1 - d0 + 1 - k) * COALESCE(sum_prod, 0)
            - COALESCE(head_sum, 0) * COALESCE(tail_sum, 0) AS BIGINT)
         AS cov_num
FROM base CROSS JOIN ks CROSS JOIN g
LEFT JOIN prod ON prod.tile = base.tile AND prod.lag_k = k
LEFT JOIN hd ON hd.tile = base.tile AND hd.lag_k = k
LEFT JOIN tl ON tl.tile = base.tile AND tl.lag_k = k
"""


REGISTRY.update({"tile_autocov": (q_tile_autocov, O_TILE_AUTOCOV)})


def q_tile_trend(spark, sf_dir):
    """Per-cell OLS value trend (operators/tiling.py ``tile_trend``):
    exact rational slope of round(value*1000) against epoch day. The
    oracle replays the quantization and the five-sum moment algebra."""
    from ..operators.tiling import tile_trend

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev.createOrReplaceTempView("__trend_events")
    t = spark.sql(
        f"SELECT ts, value, {TRAJ_LAT_SQL} AS lat, {TRAJ_LON_SQL} AS lon "
        "FROM __trend_events"
    )
    return tile_trend(t, res=7)


O_TILE_TREND = f"""
WITH src AS (
  SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS t,
         CAST(round(CAST(value AS DOUBLE) * 1000.0) AS BIGINT) AS y,
         {TRAJ_LAT_SQL} AS lat, {TRAJ_LON_SQL} AS lon
  FROM events
),
m AS (
  SELECT {_tile_sql(7)} AS tile, count(*) AS n, sum(t) AS st, sum(y) AS sy,
         sum(t * y) AS sty, sum(t * t) AS stt
  FROM src GROUP BY 1
)
SELECT tile, CAST(n AS BIGINT) AS n_events, CAST(st AS BIGINT) AS sum_t,
       CAST(sy AS BIGINT) AS sum_y,
       CAST(n * sty - st * sy AS BIGINT) AS slope_num,
       CAST(n * stt - st * st AS BIGINT) AS slope_den
FROM m
"""


REGISTRY.update({"tile_trend": (q_tile_trend, O_TILE_TREND)})


def q_stream_tile_trend(spark, sf_dir):
    """Streaming-vs-batch parity gate for the per-cell OLS trend
    (streaming/microbatch.py ``stream_tile_trend``): rank-interleaved
    maximal-disorder staging — the five moment sums are order-free, so
    the final per-tile state finished with the batch slope algebra must
    equal ``tile_trend`` exactly (same oracle)."""
    from ..streaming.microbatch import run_tile_trend_stream_once

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev.createOrReplaceTempView("__trend_events")
    t = spark.sql(
        f"SELECT ts, value, {TRAJ_LAT_SQL} AS lat, {TRAJ_LON_SQL} AS lon "
        "FROM __trend_events"
    )
    return _run_staged_stream(
        _thirds(_stream_pdf(t, "ts", "value"), interleaved=True),
        lambda src, ckpt: run_tile_trend_stream_once(spark, src, ckpt, res=7),
    )


REGISTRY.update({"stream_tile_trend": (q_stream_tile_trend, O_TILE_TREND)})


def q_knox_stat(spark, sf_dir):
    """Knox space-time interaction test (operators/spatial.py
    ``knox_stat``): exact integer pair counts close in space (Chebyshev
    <= 0.2 deg), in time (<= 7 days), and in both, plus the exact
    rational independence expectation. The oracle keeps the 9-cell fan
    join (``a.id < b.id``) and the range-window time margin as the spec —
    never an all-pairs join at any tier; the engine counts the same pairs
    with a forward half-fan in one sorted cell pass, and the counts are
    identical."""
    from ..operators.spatial import knox_stat

    return knox_stat(_traj(spark, sf_dir), ds_micro=200_000, dt_sec=604_800)


O_KNOX_STAT = f"""
WITH src AS (
  SELECT event_id AS id,
         CAST(floor(({TRAJ_LAT_SQL}) * 1000000.0) AS BIGINT) AS x,
         CAST(floor(({TRAJ_LON_SQL}) * 1000000.0) AS BIGINT) AS y,
         CAST(floor(epoch(ts)) AS BIGINT) AS t
  FROM events
),
cells AS (
  SELECT id, x, y, t,
         (x + 180000000) // 200000 AS cx,
         (y + 180000000) // 200000 AS cy
  FROM src
),
fan AS (
  SELECT id, x, y, t, cx + dx AS fx, cy + dy AS fy
  FROM cells,
       (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,0),(0,1),(1,-1),(1,0),(1,1))
       o(dx, dy)
),
sp AS (
  SELECT count(*) FILTER (greatest(abs(a.x - b.x), abs(a.y - b.y)) <= 200000)
           AS ns,
         count(*) FILTER (greatest(abs(a.x - b.x), abs(a.y - b.y)) <= 200000
                          AND abs(a.t - b.t) <= 604800) AS nst
  FROM fan a JOIN cells b
    ON a.fx = b.cx AND a.fy = b.cy AND a.id < b.id
),
hist AS (SELECT t, count(*) AS cnt FROM src GROUP BY 1),
tm AS (
  SELECT CAST(sum(cnt * later) + sum(cnt * (cnt - 1) // 2) AS BIGINT) AS nt
  FROM (
    SELECT cnt,
           COALESCE(sum(cnt) OVER (ORDER BY t
             RANGE BETWEEN 1 FOLLOWING AND 604800 FOLLOWING), 0) AS later
    FROM hist
  )
),
tot AS (SELECT count(*) AS n FROM src)
SELECT CAST(n AS BIGINT) AS n_events, CAST(ns AS BIGINT) AS ns_pairs,
       CAST(nt AS BIGINT) AS nt_pairs, CAST(nst AS BIGINT) AS nst_pairs,
       CAST(2 * ns * nt AS BIGINT) AS e_num,
       CAST(n * (n - 1) AS BIGINT) AS e_den
FROM tot, sp, tm
"""


REGISTRY.update({"knox_stat": (q_knox_stat, O_KNOX_STAT)})


def q_blur_scores(spark, sf_dir):
    """Variance-of-Laplacian sharpness audit (operators/images.py
    ``blur_scores``): exact integer moment sums of the 4-neighbor
    Laplacian over interior luminance, integer keep decision. The oracle
    hex-decodes the same raw frames and replays the stencil as four
    per-pixel self-joins."""
    from ..datagen import ensure_quality_images
    from ..operators.images import blur_scores

    imgs = _synth_images(spark, sf_dir).filter(
        (F.col("fmt") == "raw")
        & (F.substring("image_id", 4, 9).cast("long") % 16 == 0)
    ).unionByName(spark.read.parquet(ensure_quality_images("sf0.01")))
    return blur_scores(imgs)


O_BLUR_SCORES = f"""
WITH {_QUALITY_RAW_V},
ch AS MATERIALIZED (
  SELECT image_id, w, h, (i - 9) // 3 AS p,
         CAST(SUM(CASE WHEN (i - 9) % 3 = 0 THEN bv ELSE 0 END) AS BIGINT) AS rv,
         CAST(SUM(CASE WHEN (i - 9) % 3 = 1 THEN bv ELSE 0 END) AS BIGINT) AS gv,
         CAST(SUM(CASE WHEN (i - 9) % 3 = 2 THEN bv ELSE 0 END) AS BIGINT) AS bvv
  FROM b WHERE i >= 9 GROUP BY 1, 2, 3, 4
),
lum AS MATERIALIZED (
  SELECT image_id, w, h, p,
         (2126 * rv + 7152 * gv + 722 * bvv) // 10000 AS l
  FROM ch
),
lap AS (
  SELECT a.image_id, 4 * a.l - u.l - d.l - lf.l - rt.l AS lp
  FROM lum a
  JOIN lum u  ON u.image_id = a.image_id AND u.p = a.p - a.w
  JOIN lum d  ON d.image_id = a.image_id AND d.p = a.p + a.w
  JOIN lum lf ON lf.image_id = a.image_id AND lf.p = a.p - 1
  JOIN lum rt ON rt.image_id = a.image_id AND rt.p = a.p + 1
  WHERE (a.p // a.w) BETWEEN 1 AND a.h - 2
    AND (a.p % a.w) BETWEEN 1 AND a.w - 2
),
agg AS (
  SELECT image_id, CAST(count(*) AS BIGINT) AS n_int,
         CAST(sum(lp) AS BIGINT) AS s1,
         CAST(sum(lp * lp) AS BIGINT) AS s2
  FROM lap GROUP BY 1
),
ids AS (SELECT DISTINCT image_id FROM v)
SELECT ids.image_id,
       COALESCE(n_int, 0) AS n_int,
       COALESCE(s1, 0) AS sum_lap,
       COALESCE(s2, 0) AS sum_lap2,
       CAST(COALESCE(n_int * s2 - s1 * s1, 0) AS BIGINT) AS var_num,
       CAST(CASE WHEN COALESCE(n_int * s2 - s1 * s1, 0)
                      >= 1000 * COALESCE(n_int, 0) * COALESCE(n_int, 0)
                      AND COALESCE(n_int, 0) > 0
                 THEN 1 ELSE 0 END AS INT) AS is_sharp
FROM ids LEFT JOIN agg ON agg.image_id = ids.image_id
"""


REGISTRY.update({"blur_scores": (q_blur_scores, O_BLUR_SCORES)})


def q_containment_pairs(spark, sf_dir):
    """Asymmetric word-set containment pairs (operators/dedup.py
    ``containment_pairs``): the doc-inside-doc dedup signal, ordered
    (contained, container) with exact integer milli-containment; the
    prefix-filtered engine output equals the naive quadratic oracle."""
    from ..operators.dedup import containment_pairs

    return containment_pairs(spark.read.parquet(f"{sf_dir}/documents.parquet"))


O_CONTAINMENT_PAIRS = """
WITH words AS (
  SELECT DISTINCT doc_id, source, w
  FROM documents, unnest(string_split(text, ' ')) AS t(w)
),
sizes AS (SELECT doc_id, count(*) AS nw FROM words GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS contained, b.doc_id AS container, count(*) AS inter
  FROM words a JOIN words b ON a.w = b.w AND a.source = b.source
  WHERE a.doc_id != b.doc_id
  GROUP BY 1, 2
)
SELECT contained, container, (1000 * inter) // sa.nw AS cont_milli
FROM inter JOIN sizes sa ON sa.doc_id = contained
WHERE (1000 * inter) // sa.nw >= 800
"""


REGISTRY.update({"containment_pairs": (q_containment_pairs, O_CONTAINMENT_PAIRS)})


FRECHET_TOPN = 40


def q_frechet_dist(spark, sf_dir):
    """Discrete Fréchet trajectory distance (operators/spatial.py
    ``frechet_dist``) for the first ``FRECHET_TOPN`` co-visitation
    candidate pairs by (a, b) — a deterministic bound because the
    oracle's recursive-CTE DP is O(pairs * n * m) (the convex_hull
    fixture-bound precedent). Order-sensitive similarity on top of the
    contact graph; ``cell_hausdorff`` is its set-based sibling."""
    from ..operators.spatial import frechet_dist
    from ..operators.tiling import co_visitation

    t = _traj(spark, sf_dir)
    pairs = (
        co_visitation(t, res=KCORE_RES, min_days=KCORE_MIN)
        .orderBy("a", "b").limit(FRECHET_TOPN)
    )
    return frechet_dist(t, pairs)


def _o_coupling(combine: str, out_col: str) -> str:
    """Shared recursive-CTE coupling-DP oracle: ``combine`` folds the
    cell distance with the best parent (max -> Fréchet, + -> DTW)."""
    return f"""
WITH RECURSIVE {TRAJ_SRC_CTE},
pres AS (
  SELECT DISTINCT
    LEAST(GREATEST(CAST(FLOOR((lon + 180.0) / CAST(360.0 AS DOUBLE) * {_KCN}.0)
            AS BIGINT), 0), {_KCN - 1}) * {_KCN}
  + LEAST(GREATEST(CAST(FLOOR((lat + 90.0) / CAST(180.0 AS DOUBLE) * {_KCN}.0)
            AS BIGINT), 0), {_KCN - 1}) AS tile,
    ep // 86400 AS day, user_id AS entity
  FROM src
),
prs AS (
  SELECT DISTINCT p.entity AS a, q.entity AS b, p.day
  FROM pres p JOIN pres q
    ON q.tile = p.tile AND q.day = p.day AND p.entity < q.entity
),
sel AS (
  SELECT a, b FROM prs GROUP BY a, b HAVING count(*) >= {KCORE_MIN}
  ORDER BY a, b LIMIT {FRECHET_TOPN}
),
seq AS MATERIALIZED (
  SELECT user_id AS entity,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1
           AS idx,
         CAST(floor(lat * 1000000.0) AS BIGINT) AS x,
         CAST(floor(lon * 1000000.0) AS BIGINT) AS y
  FROM src
  WHERE user_id IN (SELECT a FROM sel UNION SELECT b FROM sel)
),
dmat AS MATERIALIZED (
  SELECT s.a, s.b, pa.idx AS i, pb.idx AS j,
         greatest(abs(pa.x - pb.x), abs(pa.y - pb.y)) AS d
  FROM sel s JOIN seq pa ON pa.entity = s.a JOIN seq pb ON pb.entity = s.b
),
sizes AS (
  SELECT s.a, s.b, na.n AS n, nb.n AS m
  FROM sel s
  JOIN (SELECT entity, count(*) AS n FROM seq GROUP BY 1) na ON na.entity = s.a
  JOIN (SELECT entity, count(*) AS n FROM seq GROUP BY 1) nb ON nb.entity = s.b
),
dp AS (
  SELECT a, b, i, j, d AS c, TRUE AS lead
  FROM dmat WHERE i = 0 AND j = 0
  UNION ALL
  SELECT * FROM (
    SELECT m.a, m.b, m.i, m.j,
           {combine} AS c,
           TRUE AS lead
    FROM dmat m
    LEFT JOIN dp p1 ON p1.lead AND p1.a = m.a AND p1.b = m.b
                   AND p1.i = m.i - 1 AND p1.j = m.j
    LEFT JOIN dp p2 ON p2.lead AND p2.a = m.a AND p2.b = m.b
                   AND p2.i = m.i AND p2.j = m.j - 1
    LEFT JOIN dp p3 ON (NOT p3.lead) AND p3.a = m.a AND p3.b = m.b
                   AND p3.i = m.i - 1 AND p3.j = m.j - 1
    WHERE p1.c IS NOT NULL OR p2.c IS NOT NULL
    UNION ALL
    SELECT a, b, i, j, c, FALSE AS lead FROM dp WHERE lead
  )
)
SELECT dp.a, dp.b, CAST(sz.n AS BIGINT) AS n_a, CAST(sz.m AS BIGINT) AS n_b,
       CAST(dp.c AS BIGINT) AS {out_col}
FROM dp JOIN sizes sz ON sz.a = dp.a AND sz.b = dp.b
WHERE dp.lead AND dp.i = sz.n - 1 AND dp.j = sz.m - 1
"""


_BEST_PARENT = """least(
             COALESCE(p1.c, 1000000000000000),
             COALESCE(p2.c, 1000000000000000),
             COALESCE(p3.c, 1000000000000000))"""
O_FRECHET_DIST = _o_coupling(f"greatest(m.d, {_BEST_PARENT})", "frechet_d")
O_DTW_DIST = _o_coupling(f"m.d + {_BEST_PARENT}", "dtw_d")


REGISTRY.update({"frechet_dist": (q_frechet_dist, O_FRECHET_DIST)})


def q_dtw_dist(spark, sf_dir):
    """DTW trajectory distance (operators/spatial.py ``dtw_dist``): the
    sum-semiring coupling DP over the same deterministic top-N
    co-visitation pair slice as ``frechet_dist`` — shape similarity vs
    Fréchet's worst-moment bound, one templated oracle for both."""
    from ..operators.spatial import dtw_dist
    from ..operators.tiling import co_visitation

    t = _traj(spark, sf_dir)
    pairs = (
        co_visitation(t, res=KCORE_RES, min_days=KCORE_MIN)
        .orderBy("a", "b").limit(FRECHET_TOPN)
    )
    return dtw_dist(t, pairs)


REGISTRY.update({"dtw_dist": (q_dtw_dist, O_DTW_DIST)})


def q_tile_bimodality(spark, sf_dir):
    """Per-cell hour-of-day bimodality (operators/tiling.py
    ``tile_bimodality``): Sarle's b from exact integer moment sums,
    quantized to milli in DECIMAL/HUGEINT — the commuter-cell detector."""
    from ..operators.tiling import tile_bimodality

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev.createOrReplaceTempView("__bimod_events")
    t = spark.sql(
        f"SELECT ts, {TRAJ_LAT_SQL} AS lat, {TRAJ_LON_SQL} AS lon "
        "FROM __bimod_events"
    )
    return tile_bimodality(t, res=7)


O_TILE_BIMODALITY = f"""
WITH src AS (
  SELECT (CAST(floor(epoch(ts)) AS BIGINT) % 86400) // 3600 AS y,
         {TRAJ_LAT_SQL} AS lat, {TRAJ_LON_SQL} AS lon
  FROM events
),
m AS (
  SELECT {_tile_sql(7)} AS tile, count(*) AS n,
         sum(y) AS s1, sum(y*y) AS s2, sum(y*y*y) AS s3,
         sum(y*y*y*y) AS s4
  FROM src GROUP BY 1 HAVING count(*) >= 8
),
c AS (
  SELECT tile, n,
         CAST(n AS HUGEINT) * s2 - CAST(s1 AS HUGEINT) * s1 AS m2,
         CAST(n AS HUGEINT) * n * s3 - 3 * CAST(n AS HUGEINT) * s1 * s2
           + 2 * CAST(s1 AS HUGEINT) * s1 * s1 AS m3,
         CAST(n AS HUGEINT) * n * n * s4
           - 4 * CAST(n AS HUGEINT) * n * s1 * s3
           + 6 * CAST(n AS HUGEINT) * s1 * s1 * s2
           - 3 * CAST(s1 AS HUGEINT) * s1 * s1 * s1 AS m4
  FROM m
)
SELECT tile, CAST(n AS BIGINT) AS n_events, CAST(m2 AS BIGINT) AS m2n,
       CASE WHEN m2 != 0
            THEN CAST((1000 * (m3 * m3 + m2 * m2 * m2)) // (m2 * m4) AS BIGINT)
            ELSE NULL END AS bc_milli
FROM c
"""


REGISTRY.update({"tile_bimodality": (q_tile_bimodality, O_TILE_BIMODALITY)})


def q_lacunarity(spark, sf_dir):
    """Gliding-box lacunarity curve (operators/tiling.py
    ``lacunarity_curve``) at box sizes 1/2/4 over the res-7 occupancy
    raster — exact integer clumpiness-vs-scale signature."""
    from ..operators.tiling import lacunarity_curve

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev.createOrReplaceTempView("__lac_events")
    t = spark.sql(
        f"SELECT {TRAJ_LAT_SQL} AS lat, {TRAJ_LON_SQL} AS lon "
        "FROM __lac_events"
    )
    return lacunarity_curve(t, res=7)


_LACN = 1 << 7
O_LACUNARITY = f"""
WITH src AS (
  SELECT {TRAJ_LAT_SQL} AS lat, {TRAJ_LON_SQL} AS lon FROM events
),
hist AS (
  SELECT LEAST(GREATEST(CAST(FLOOR((lon + 180.0) / CAST(360.0 AS DOUBLE)
             * {_LACN}.0) AS BIGINT), 0), {_LACN - 1}) AS ix,
         LEAST(GREATEST(CAST(FLOOR((lat + 90.0) / CAST(180.0 AS DOUBLE)
             * {_LACN}.0) AS BIGINT), 0), {_LACN - 1}) AS iy,
         count(*) AS cnt
  FROM src GROUP BY 1, 2
),
bbox AS (
  SELECT min(ix) AS x0, max(ix) AS x1, min(iy) AS y0, max(iy) AS y1
  FROM hist
),
fan AS (
  SELECT r.r, h.cnt, h.ix - dx.i AS wx, h.iy - dy.i AS wy
  FROM hist h
  JOIN (VALUES (1), (2), (4)) r(r) ON TRUE
  JOIN generate_series(0, 3) dx(i) ON dx.i < r.r
  JOIN generate_series(0, 3) dy(i) ON dy.i < r.r
),
wins AS (
  SELECT f.r, f.wx, f.wy, sum(f.cnt) AS s
  FROM fan f, bbox
  WHERE f.wx >= bbox.x0 AND f.wx <= bbox.x1 - f.r + 1
    AND f.wy >= bbox.y0 AND f.wy <= bbox.y1 - f.r + 1
  GROUP BY 1, 2, 3
),
per_r AS (
  SELECT r, CAST(sum(s) AS BIGINT) AS sum_s,
         CAST(sum(s * s) AS BIGINT) AS sum_s2
  FROM wins GROUP BY 1
)
SELECT CAST(r AS BIGINT) AS box_r,
       CAST((x1 - x0 - r + 2) * (y1 - y0 - r + 2) AS BIGINT) AS n_boxes,
       sum_s, sum_s2,
       CAST((x1 - x0 - r + 2) * (y1 - y0 - r + 2) * sum_s2 AS BIGINT)
         AS lac_num,
       CAST(sum_s * sum_s AS BIGINT) AS lac_den
FROM per_r, bbox
WHERE (x1 - x0 - r + 2) * (y1 - y0 - r + 2) > 0
"""


REGISTRY.update({"lacunarity": (q_lacunarity, O_LACUNARITY)})


def q_raster_slope(spark, sf_dir):
    """Horn slope/aspect of the res-7 density raster (operators/tiling.py
    ``raster_slope_aspect``): integer gradient, squared magnitude, and
    the shared-literal aspect octant per occupied cell."""
    from ..operators.tiling import raster_slope_aspect

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev.createOrReplaceTempView("__slope_events")
    t = spark.sql(
        f"SELECT {TRAJ_LAT_SQL} AS lat, {TRAJ_LON_SQL} AS lon "
        "FROM __slope_events"
    )
    return raster_slope_aspect(t, res=7)


def _o_raster_slope() -> str:
    from ..operators.tiling import GRAD_OCTANT_SQL, _HORN_COEFS

    coef_rows = ", ".join(f"({rx}, {ry}, {cx}, {cy})"
                          for rx, ry, cx, cy in _HORN_COEFS)
    n = 1 << 7
    return f"""
WITH src AS (
  SELECT {TRAJ_LAT_SQL} AS lat, {TRAJ_LON_SQL} AS lon FROM events
),
hist AS (
  SELECT LEAST(GREATEST(CAST(FLOOR((lon + 180.0) / CAST(360.0 AS DOUBLE)
             * {n}.0) AS BIGINT), 0), {n - 1}) AS ix,
         LEAST(GREATEST(CAST(FLOOR((lat + 90.0) / CAST(180.0 AS DOUBLE)
             * {n}.0) AS BIGINT), 0), {n - 1}) AS iy,
         count(*) AS cnt
  FROM src GROUP BY 1, 2
),
grad AS (
  SELECT h.ix - c.rx AS tx, h.iy - c.ry AS ty,
         CAST(sum(h.cnt * c.cx) AS BIGINT) AS gx,
         CAST(sum(h.cnt * c.cy) AS BIGINT) AS gy
  FROM hist h JOIN (VALUES {coef_rows}) c(rx, ry, cx, cy) ON TRUE
  GROUP BY 1, 2
)
SELECT h.ix, h.iy, CAST(h.cnt AS BIGINT) AS cnt,
       COALESCE(g.gx, 0) AS gx, COALESCE(g.gy, 0) AS gy,
       COALESCE(g.gx, 0) * COALESCE(g.gx, 0)
         + COALESCE(g.gy, 0) * COALESCE(g.gy, 0) AS mag2,
       CAST({GRAD_OCTANT_SQL.replace('gx', 'COALESCE(g.gx, 0)').replace('gy', 'COALESCE(g.gy, 0)')} AS INT) AS octant
FROM hist h LEFT JOIN grad g ON g.tx = h.ix AND g.ty = h.iy
"""


REGISTRY.update({"raster_slope": (q_raster_slope, _o_raster_slope())})


def q_variogram_aniso(spark, sf_dir):
    """Directional variogram anisotropy (operators/spatial.py
    ``variogram_anisotropy``): lag-1 E-W vs N-S semivariance of the
    res-7 density raster as exact integer sums and their rational
    ratio."""
    from ..operators.spatial import variogram_anisotropy

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev.createOrReplaceTempView("__aniso_events")
    t = spark.sql(
        f"SELECT {TRAJ_LAT_SQL} AS lat, {TRAJ_LON_SQL} AS lon "
        "FROM __aniso_events"
    )
    return variogram_anisotropy(t, res=7)


O_VARIOGRAM_ANISO = f"""
WITH src AS (
  SELECT {TRAJ_LAT_SQL} AS lat, {TRAJ_LON_SQL} AS lon FROM events
),
hist AS (
  SELECT LEAST(GREATEST(CAST(FLOOR((lon + 180.0) / CAST(360.0 AS DOUBLE)
             * 128.0) AS BIGINT), 0), 127) AS ix,
         LEAST(GREATEST(CAST(FLOOR((lat + 90.0) / CAST(180.0 AS DOUBLE)
             * 128.0) AS BIGINT), 0), 127) AS iy,
         count(*) AS cnt
  FROM src GROUP BY 1, 2
),
ew AS (
  SELECT CAST(count(*) AS BIGINT) AS n_ew,
         CAST(COALESCE(sum((a.cnt - b.cnt) * (a.cnt - b.cnt)), 0) AS BIGINT)
           AS sse_ew
  FROM hist a JOIN hist b ON b.ix = a.ix + 1 AND b.iy = a.iy
),
ns AS (
  SELECT CAST(count(*) AS BIGINT) AS n_ns,
         CAST(COALESCE(sum((a.cnt - b.cnt) * (a.cnt - b.cnt)), 0) AS BIGINT)
           AS sse_ns
  FROM hist a JOIN hist b ON b.ix = a.ix AND b.iy = a.iy + 1
)
SELECT CAST(1 AS BIGINT) AS lag, n_ew, sse_ew, n_ns, sse_ns,
       CAST(sse_ew * n_ns AS BIGINT) AS aniso_num,
       CAST(sse_ns * n_ew AS BIGINT) AS aniso_den
FROM ew, ns
"""


REGISTRY.update({"variogram_aniso": (q_variogram_aniso, O_VARIOGRAM_ANISO)})


def q_banding_scores(spark, sf_dir):
    """Scanline-banding audit (operators/images.py ``banding_scores``):
    exact row-mean autocovariance at lags 1..3 per raw frame; oracle
    replays the row-mean quantization over hex-decoded pixels."""
    from ..datagen import ensure_quality_images
    from ..operators.images import banding_scores

    imgs = _synth_images(spark, sf_dir).filter(
        (F.col("fmt") == "raw")
        & (F.substring("image_id", 4, 9).cast("long") % 16 == 0)
    ).unionByName(spark.read.parquet(ensure_quality_images("sf0.01")))
    return banding_scores(imgs)


O_BANDING_SCORES = f"""
WITH {_QUALITY_RAW_V},
ch AS MATERIALIZED (
  SELECT image_id, w, h, (i - 9) // 3 AS p,
         CAST(SUM(CASE WHEN (i - 9) % 3 = 0 THEN bv ELSE 0 END) AS BIGINT) AS rv,
         CAST(SUM(CASE WHEN (i - 9) % 3 = 1 THEN bv ELSE 0 END) AS BIGINT) AS gv,
         CAST(SUM(CASE WHEN (i - 9) % 3 = 2 THEN bv ELSE 0 END) AS BIGINT) AS bvv
  FROM b WHERE i >= 9 GROUP BY 1, 2, 3, 4
),
rowmean AS MATERIALIZED (
  SELECT image_id, h, p // w AS r,
         sum((2126 * rv + 7152 * gv + 722 * bvv) // 10000) // w AS rm
  FROM ch GROUP BY image_id, h, w, p // w
),
lagged AS (
  SELECT a.image_id, k.k AS lag_k,
         CAST(count(*) AS BIGINT) AS n_terms,
         CAST(sum(a.rm * b.rm) AS BIGINT) AS sum_prod,
         CAST(sum(a.rm) AS BIGINT) AS head_sum,
         CAST(sum(b.rm) AS BIGINT) AS tail_sum
  FROM rowmean a
  JOIN (VALUES (1), (2), (3)) k(k) ON TRUE
  JOIN rowmean b ON b.image_id = a.image_id AND b.r = a.r + k.k
  GROUP BY 1, 2
),
ids AS (SELECT DISTINCT image_id FROM v),
grid AS (
  SELECT ids.image_id, k.k AS lag_k
  FROM ids JOIN (VALUES (1), (2), (3)) k(k) ON TRUE
)
SELECT g.image_id, CAST(g.lag_k AS INT) AS lag_k,
       COALESCE(l.n_terms, 0) AS n_terms,
       COALESCE(l.sum_prod, 0) AS sum_prod,
       COALESCE(l.head_sum, 0) AS head_sum,
       COALESCE(l.tail_sum, 0) AS tail_sum,
       COALESCE(l.n_terms * l.sum_prod - l.head_sum * l.tail_sum, 0)
         AS cov_num
FROM grid g LEFT JOIN lagged l
  ON l.image_id = g.image_id AND l.lag_k = g.lag_k
"""


REGISTRY.update({"banding_scores": (q_banding_scores, O_BANDING_SCORES)})


DP_EPS_MICRO = 5_000_000
DP_ENT_MOD = 11


def q_simplify_dp(spark, sf_dir):
    """Douglas-Peucker simplification (operators/spatial.py
    ``simplify_dp``) at eps = 5 deg for the user_id %% 11 == 0 entity
    slice (the split recursion is O(n^2) per entity in the oracle —
    fixture-bound precedent). Kept points must match the recursive-CTE
    replay exactly, ties to the smallest index."""
    from ..operators.spatial import simplify_dp

    t = _traj(spark, sf_dir).filter(F.col("user_id") % DP_ENT_MOD == 0)
    return simplify_dp(t, eps_micro=DP_EPS_MICRO)


def _o_simplify_dp() -> str:
    eps2 = DP_EPS_MICRO * DP_EPS_MICRO
    # the per-(segment, interior-point) deviation frame; inlined twice in
    # the recursive term (a CTE cannot reference the recursive table)
    dsub = """
      SELECT q.entity, q.i0, q.i1, q.i,
             CASE WHEN q.dx * q.dx + q.dy * q.dy > 0
                  THEN (q.dx * q.ey - q.dy * q.ex)
                     * (q.dx * q.ey - q.dy * q.ex)
                  ELSE q.ex * q.ex + q.ey * q.ey END AS dev2,
             CASE WHEN q.dx * q.dx + q.dy * q.dy > 0
                  THEN {eps2} * (q.dx * q.dx + q.dy * q.dy)
                  ELSE CAST({eps2} AS HUGEINT) END AS thr
      FROM (
        SELECT t.entity, t.i0, t.i1, p.idx AS i,
               CAST(b.x - a.x AS HUGEINT) AS dx,
               CAST(b.y - a.y AS HUGEINT) AS dy,
               CAST(p.x - a.x AS HUGEINT) AS ex,
               CAST(p.y - a.y AS HUGEINT) AS ey
        FROM segs t
        JOIN seq a ON a.entity = t.entity AND a.idx = t.i0
        JOIN seq b ON b.entity = t.entity AND b.idx = t.i1
        JOIN seq p ON p.entity = t.entity AND p.idx > t.i0
                  AND p.idx < t.i1
      ) q
    """.format(eps2=eps2)
    return f"""
WITH RECURSIVE {TRAJ_SRC_CTE},
seq AS MATERIALIZED (
  SELECT user_id AS entity,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1
           AS idx,
         CAST(floor(lat * 1000000.0) AS BIGINT) AS x,
         CAST(floor(lon * 1000000.0) AS BIGINT) AS y
  FROM src WHERE user_id % {DP_ENT_MOD} = 0
),
sz AS (SELECT entity, count(*) AS n FROM seq GROUP BY 1),
segs AS (
  SELECT entity, 0 AS i0, n - 1 AS i1 FROM sz
  UNION ALL
  SELECT u.e AS entity, u.a AS i0, u.b AS i1 FROM (
    SELECT d.entity AS e, d.i0, d.i1, min(d.i) AS best
    FROM ({dsub}) d
    JOIN (
      SELECT entity, i0, i1, max(dev2) AS mx, max(thr) AS thr
      FROM ({dsub}) GROUP BY 1, 2, 3
    ) m ON m.entity = d.entity AND m.i0 = d.i0 AND m.i1 = d.i1
       AND d.dev2 = m.mx AND m.mx > m.thr
    GROUP BY 1, 2, 3
  ) s, unnest([struct_pack(e := s.e, a := s.i0, b := s.best),
               struct_pack(e := s.e, a := s.best, b := s.i1)]) AS un(u)
)
SELECT k.entity, k.idx, s2.x, s2.y
FROM (
  SELECT entity, i0 AS idx FROM segs
  UNION
  SELECT entity, i1 FROM segs
) k JOIN seq s2 ON s2.entity = k.entity AND s2.idx = k.idx
"""


REGISTRY.update({"simplify_dp": (q_simplify_dp, _o_simplify_dp())})


def q_path_crossings(spark, sf_dir):
    """Proper segment-crossing counts (operators/spatial.py
    ``path_crossings``) over the same deterministic top-N co-visitation
    pair slice as ``frechet_dist`` — exact integer orientation
    predicates, column expressions only."""
    from ..operators.spatial import path_crossings
    from ..operators.tiling import co_visitation

    t = _traj(spark, sf_dir)
    pairs = (
        co_visitation(t, res=KCORE_RES, min_days=KCORE_MIN)
        .orderBy("a", "b").limit(FRECHET_TOPN)
    )
    return path_crossings(t, pairs)


O_PATH_CROSSINGS = f"""
WITH {TRAJ_SRC_CTE},
pres AS (
  SELECT DISTINCT
    LEAST(GREATEST(CAST(FLOOR((lon + 180.0) / CAST(360.0 AS DOUBLE) * {_KCN}.0)
            AS BIGINT), 0), {_KCN - 1}) * {_KCN}
  + LEAST(GREATEST(CAST(FLOOR((lat + 90.0) / CAST(180.0 AS DOUBLE) * {_KCN}.0)
            AS BIGINT), 0), {_KCN - 1}) AS tile,
    ep // 86400 AS day, user_id AS entity
  FROM src
),
prs AS (
  SELECT DISTINCT p.entity AS a, q.entity AS b, p.day
  FROM pres p JOIN pres q
    ON q.tile = p.tile AND q.day = p.day AND p.entity < q.entity
),
sel AS (
  SELECT a, b FROM prs GROUP BY a, b HAVING count(*) >= {KCORE_MIN}
  ORDER BY a, b LIMIT {FRECHET_TOPN}
),
segs AS MATERIALIZED (
  SELECT user_id AS entity,
         lag(CAST(floor(lat * 1000000.0) AS BIGINT))
           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS x1,
         lag(CAST(floor(lon * 1000000.0) AS BIGINT))
           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS y1,
         CAST(floor(lat * 1000000.0) AS BIGINT) AS x2,
         CAST(floor(lon * 1000000.0) AS BIGINT) AS y2
  FROM src
  WHERE user_id IN (SELECT a FROM sel UNION SELECT b FROM sel)
  QUALIFY x1 IS NOT NULL
),
j AS (
  SELECT s.a, s.b,
         (sb.x2 - sb.x1) * (sa.y1 - sb.y1)
           - (sb.y2 - sb.y1) * (sa.x1 - sb.x1) AS d1,
         (sb.x2 - sb.x1) * (sa.y2 - sb.y1)
           - (sb.y2 - sb.y1) * (sa.x2 - sb.x1) AS d2,
         (sa.x2 - sa.x1) * (sb.y1 - sa.y1)
           - (sa.y2 - sa.y1) * (sb.x1 - sa.x1) AS d3,
         (sa.x2 - sa.x1) * (sb.y2 - sa.y1)
           - (sa.y2 - sa.y1) * (sb.x2 - sa.x1) AS d4
  FROM sel s
  JOIN segs sa ON sa.entity = s.a
  JOIN segs sb ON sb.entity = s.b
)
SELECT a, b, CAST(count(*) AS BIGINT) AS n_seg_pairs,
       CAST(sum(CASE WHEN ((d1 > 0 AND d2 < 0) OR (d1 < 0 AND d2 > 0))
                      AND ((d3 > 0 AND d4 < 0) OR (d3 < 0 AND d4 > 0))
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_crossings
FROM j GROUP BY 1, 2
"""


REGISTRY.update({"path_crossings": (q_path_crossings, O_PATH_CROSSINGS)})


def q_freq_spectrum(spark, sf_dir):
    """Corpus word-frequency spectrum by octave (operators/textstats.py
    ``freq_spectrum``): hapax count and geometric frequency decay — the
    Zipf-health diagnostic; octave dim is one shared literal."""
    from ..operators.textstats import freq_spectrum

    return freq_spectrum(spark.read.parquet(f"{sf_dir}/documents.parquet"))


def _o_freq_spectrum() -> str:
    from ..operators.textstats import FREQ_OCTAVES_SQL

    return f"""
WITH toks AS (
  SELECT w FROM documents, unnest(string_split(text, ' ')) AS t(w)
  WHERE w != ''
),
freqs AS (SELECT w, count(*) AS freq FROM toks GROUP BY 1)
SELECT CAST(o.k AS BIGINT) AS octave,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(freq) AS BIGINT) AS n_tokens
FROM freqs JOIN (VALUES {FREQ_OCTAVES_SQL}) o(k, lo, hi)
  ON freq >= o.lo AND freq <= o.hi
GROUP BY 1
"""


REGISTRY.update({"freq_spectrum": (q_freq_spectrum, _o_freq_spectrum())})


def q_hotspot_profile(spark, sf_dir):
    """Radial density profiles of the top-20 hot cells (operators/
    tiling.py ``hotspot_profile``): per-ring occupied-cell and event
    census with the deterministic (cnt DESC, ix, iy) top-k."""
    from ..operators.tiling import hotspot_profile

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev.createOrReplaceTempView("__hotprof_events")
    t = spark.sql(
        f"SELECT {TRAJ_LAT_SQL} AS lat, {TRAJ_LON_SQL} AS lon "
        "FROM __hotprof_events"
    )
    return hotspot_profile(t, res=7)


O_HOTSPOT_PROFILE = f"""
WITH src AS (
  SELECT {TRAJ_LAT_SQL} AS lat, {TRAJ_LON_SQL} AS lon FROM events
),
hist AS (
  SELECT LEAST(GREATEST(CAST(FLOOR((lon + 180.0) / CAST(360.0 AS DOUBLE)
             * 128.0) AS BIGINT), 0), 127) AS ix,
         LEAST(GREATEST(CAST(FLOOR((lat + 90.0) / CAST(180.0 AS DOUBLE)
             * 128.0) AS BIGINT), 0), 127) AS iy,
         count(*) AS cnt
  FROM src GROUP BY 1, 2
),
hot AS (
  SELECT ix AS hot_ix, iy AS hot_iy, cnt AS hot_cnt
  FROM hist ORDER BY cnt DESC, ix ASC, iy ASC LIMIT 20
),
fan AS (
  SELECT hot_ix, hot_iy, hot_cnt,
         hot_ix + dx.i AS nx, hot_iy + dy.i AS ny,
         greatest(abs(dx.i), abs(dy.i)) AS ring
  FROM hot
  JOIN generate_series(-3, 3) dx(i) ON TRUE
  JOIN generate_series(-3, 3) dy(i) ON TRUE
)
SELECT f.hot_ix, f.hot_iy, CAST(f.hot_cnt AS BIGINT) AS hot_cnt,
       CAST(f.ring AS BIGINT) AS ring,
       CAST(count(*) AS BIGINT) AS n_cells,
       CAST(sum(h.cnt) AS BIGINT) AS sum_cnt
FROM fan f JOIN hist h ON h.ix = f.nx AND h.iy = f.ny
GROUP BY 1, 2, 3, 4
"""


REGISTRY.update({"hotspot_profile": (q_hotspot_profile, O_HOTSPOT_PROFILE)})


VITERBI_LAMBDA = 2_000_000_000_000  # switch penalty in micro-deg^2


def q_map_match(spark, sf_dir):
    """HMM map matching (operators/spatial.py ``map_match_viterbi``):
    per-entity Viterbi decode over the top-3 nearest boundary segments
    with an integer switch penalty — the sticky upgrade of
    ``snap_to_boundary``. The oracle replays the decode as a forward
    recursive CTE (argmin backpointers, deterministic tie strings) and
    a backward path recursion."""
    from ..operators.spatial import map_match_viterbi

    return map_match_viterbi(
        _traj(spark, sf_dir), geo_polygons_df(spark),
        lambda_switch=VITERBI_LAMBDA,
    )


def _o_map_match() -> str:
    lam = VITERBI_LAMBDA
    dsub = f"""
      SELECT c.entity, c.idx, c.pid, c.seg, c.d2, p.pid AS ppid,
             p.seg AS pseg,
             p.cost + CASE WHEN p.pid = c.pid AND p.seg = c.seg
                           THEN 0 ELSE {lam} END AS tc
      FROM fwd p JOIN cand c ON c.entity = p.entity AND c.idx = p.idx + 1
    """
    return f"""
WITH RECURSIVE {TRAJ_SRC_CTE},
segs AS (
  SELECT polygon_id, seg_idx,
         CAST(x1 AS BIGINT) AS x1, CAST(y1 AS BIGINT) AS y1,
         CAST(x2 AS BIGINT) AS x2, CAST(y2 AS BIGINT) AS y2
  FROM (VALUES {_seg_values()}) AS v(polygon_id, seg_idx, x1, y1, x2, y2)
),
q AS (
  SELECT user_id AS entity,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1
           AS idx,
         event_id AS eid,
         CAST(FLOOR(lon * 1000000.0) AS BIGINT) AS x0,
         CAST(FLOOR(lat * 1000000.0) AS BIGINT) AS y0
  FROM src
),
sc AS (
  SELECT entity, idx, eid, polygon_id, seg_idx,
         CASE WHEN l2 = 0 OR tn <= 0 THEN da
              WHEN tn >= l2 THEN db
              ELSE CAST(CAST(cr AS HUGEINT) * cr // l2 AS BIGINT) END AS d2
  FROM (
    SELECT q.entity, q.idx, q.eid, s.polygon_id, s.seg_idx,
           (s.x2 - s.x1) * (s.x2 - s.x1) + (s.y2 - s.y1) * (s.y2 - s.y1) AS l2,
           (q.x0 - s.x1) * (s.x2 - s.x1) + (q.y0 - s.y1) * (s.y2 - s.y1) AS tn,
           (q.x0 - s.x1) * (q.x0 - s.x1) + (q.y0 - s.y1) * (q.y0 - s.y1) AS da,
           (q.x0 - s.x2) * (q.x0 - s.x2) + (q.y0 - s.y2) * (q.y0 - s.y2) AS db,
           (q.x0 - s.x1) * (s.y2 - s.y1) - (q.y0 - s.y1) * (s.x2 - s.x1) AS cr
    FROM q CROSS JOIN segs s
  )
),
cand AS MATERIALIZED (
  SELECT entity, idx, eid, polygon_id AS pid, seg_idx AS seg, d2
  FROM (
    SELECT *, row_number() OVER (PARTITION BY entity, idx
                                 ORDER BY d2, polygon_id, seg_idx) AS rn
    FROM sc
  ) WHERE rn <= 3
),
sz AS (SELECT entity, max(idx) + 1 AS n FROM cand GROUP BY 1),
fwd AS (
  SELECT entity, idx, pid, seg, d2 AS cost,
         CAST(NULL AS VARCHAR) AS ppid, CAST(NULL AS INT) AS pseg
  FROM cand WHERE idx = 0
  UNION ALL
  SELECT d.entity, d.idx, d.pid, d.seg, m.mc + d.d2 AS cost,
         split_part(min(d.ppid || '#' ||
                        lpad(CAST(d.pseg AS VARCHAR), 6, '0')), '#', 1)
           AS ppid,
         CAST(split_part(min(d.ppid || '#' ||
                             lpad(CAST(d.pseg AS VARCHAR), 6, '0')),
                         '#', 2) AS INT) AS pseg
  FROM ({dsub}) d
  JOIN (
    SELECT entity, idx, pid, seg, min(tc) AS mc
    FROM ({dsub}) GROUP BY 1, 2, 3, 4
  ) m ON m.entity = d.entity AND m.idx = d.idx AND m.pid = d.pid
     AND m.seg = d.seg AND d.tc = m.mc
  GROUP BY d.entity, d.idx, d.pid, d.seg, m.mc, d.d2
),
back AS (
  SELECT entity, idx, pid, seg, ppid, pseg FROM (
    SELECT f.entity, f.idx, f.pid, f.seg, f.ppid, f.pseg,
           row_number() OVER (PARTITION BY f.entity
                              ORDER BY f.cost, f.pid, f.seg) AS rn
    FROM fwd f JOIN sz ON sz.entity = f.entity AND f.idx = sz.n - 1
  ) WHERE rn = 1
  UNION ALL
  SELECT f.entity, f.idx, f.pid, f.seg, f.ppid, f.pseg
  FROM back b JOIN fwd f
    ON f.entity = b.entity AND f.idx = b.idx - 1
   AND f.pid = b.ppid AND f.seg = b.pseg
  WHERE b.idx > 0
)
SELECT b.entity, c.eid, b.pid AS polygon_id, CAST(b.seg AS INT) AS seg_idx,
       c.d2
FROM back b JOIN cand c ON c.entity = b.entity AND c.idx = b.idx
  AND c.pid = b.pid AND c.seg = b.seg
"""


REGISTRY.update({"map_match": (q_map_match, _o_map_match())})


def q_heading_persistence(spark, sf_dir):
    """Directional persistence per entity (operators/spatial.py
    ``heading_persistence``): exact integer lag-1 displacement dot
    products — ballistic vs Brownian vs pacing movers."""
    from ..operators.spatial import heading_persistence

    return heading_persistence(_traj(spark, sf_dir))


O_HEADING_PERSISTENCE = f"""
WITH {TRAJ_SRC_CTE},
v AS (
  SELECT user_id AS entity,
         CAST(floor(lat * 1000000.0) AS BIGINT)
           - lag(CAST(floor(lat * 1000000.0) AS BIGINT))
             OVER (PARTITION BY user_id ORDER BY ts, event_id) AS vx,
         CAST(floor(lon * 1000000.0) AS BIGINT)
           - lag(CAST(floor(lon * 1000000.0) AS BIGINT))
             OVER (PARTITION BY user_id ORDER BY ts, event_id) AS vy,
         ts, event_id
  FROM src
),
p AS (
  SELECT entity, vx, vy,
         lag(vx) OVER (PARTITION BY entity ORDER BY ts, event_id) AS pvx,
         lag(vy) OVER (PARTITION BY entity ORDER BY ts, event_id) AS pvy
  FROM v
)
SELECT entity, CAST(count(*) AS BIGINT) AS n_turns,
       CAST(sum(vx * pvx + vy * pvy) AS BIGINT) AS sum_dot,
       CAST(sum(pvx * pvx + pvy * pvy) AS BIGINT) AS sum_v2a,
       CAST(sum(vx * vx + vy * vy) AS BIGINT) AS sum_v2b
FROM p WHERE pvx IS NOT NULL AND vx IS NOT NULL
GROUP BY 1
"""


REGISTRY.update(
    {"heading_persistence": (q_heading_persistence, O_HEADING_PERSISTENCE)}
)


def q_centroid_drift(spark, sf_dir):
    """Daily activity-center drift (operators/tiling.py
    ``centroid_drift``): exact integer daily centroid moments and the
    cross-multiplied day-over-day displacement rationals."""
    from ..operators.tiling import centroid_drift

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev.createOrReplaceTempView("__drift_events")
    t = spark.sql(
        f"SELECT ts, {TRAJ_LAT_SQL} AS lat, {TRAJ_LON_SQL} AS lon "
        "FROM __drift_events"
    )
    return centroid_drift(t)


O_CENTROID_DRIFT = f"""
WITH src AS (
  SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
         CAST(floor(({TRAJ_LAT_SQL}) * 1000000.0) AS BIGINT) AS x,
         CAST(floor(({TRAJ_LON_SQL}) * 1000000.0) AS BIGINT) AS y
  FROM events
),
daily AS (
  SELECT day, count(*) AS n, sum(x) AS sx, sum(y) AS sy
  FROM src GROUP BY 1
),
lagged AS (
  SELECT day, n, sx, sy,
         lag(n) OVER (ORDER BY day) AS pn,
         lag(sx) OVER (ORDER BY day) AS px,
         lag(sy) OVER (ORDER BY day) AS py
  FROM daily
)
SELECT day, CAST(n AS BIGINT) AS n_events, CAST(sx AS BIGINT) AS sum_x,
       CAST(sy AS BIGINT) AS sum_y,
       CAST(sx * pn - px * n AS BIGINT) AS dx_num,
       CAST(sy * pn - py * n AS BIGINT) AS dy_num,
       CAST(n * pn AS BIGINT) AS drift_den
FROM lagged
"""


REGISTRY.update({"centroid_drift": (q_centroid_drift, O_CENTROID_DRIFT)})


def q_stream_centroid_drift(spark, sf_dir):
    """Streaming-vs-batch parity gate for the daily centroid moments
    (streaming/microbatch.py ``stream_centroid_moments``): order-free
    sums, rank-interleaved staging; the finished state must equal
    ``centroid_drift`` exactly (same oracle)."""
    from ..streaming.microbatch import run_centroid_drift_stream_once

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev.createOrReplaceTempView("__cdrift_events")
    t = spark.sql(
        f"SELECT ts, {TRAJ_LAT_SQL} AS lat, {TRAJ_LON_SQL} AS lon "
        "FROM __cdrift_events"
    )
    return _run_staged_stream(
        _thirds(_stream_pdf(t, "ts", "lat"), interleaved=True),
        lambda src, ckpt: run_centroid_drift_stream_once(spark, src, ckpt),
    )


REGISTRY.update(
    {"stream_centroid_drift": (q_stream_centroid_drift, O_CENTROID_DRIFT)}
)


def q_tile_isolation(spark, sf_dir):
    """Nearest-occupied-neighbor cell distance (operators/tiling.py
    ``tile_isolation``) at res 7, rings up to 4 with explicit censoring
    — the raster Clark-Evans ingredient and outpost detector."""
    from ..operators.tiling import tile_isolation

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev.createOrReplaceTempView("__isol_events")
    t = spark.sql(
        f"SELECT {TRAJ_LAT_SQL} AS lat, {TRAJ_LON_SQL} AS lon "
        "FROM __isol_events"
    )
    return tile_isolation(t, res=7)


O_TILE_ISOLATION = f"""
WITH src AS (
  SELECT {TRAJ_LAT_SQL} AS lat, {TRAJ_LON_SQL} AS lon FROM events
),
hist AS (
  SELECT LEAST(GREATEST(CAST(FLOOR((lon + 180.0) / CAST(360.0 AS DOUBLE)
             * 128.0) AS BIGINT), 0), 127) AS ix,
         LEAST(GREATEST(CAST(FLOOR((lat + 90.0) / CAST(180.0 AS DOUBLE)
             * 128.0) AS BIGINT), 0), 127) AS iy,
         count(*) AS cnt
  FROM src GROUP BY 1, 2
),
near AS (
  SELECT h.ix AS six, h.iy AS siy,
         min(greatest(abs(dx.i), abs(dy.i))) AS nnd
  FROM hist h
  JOIN generate_series(-4, 4) dx(i) ON TRUE
  JOIN generate_series(-4, 4) dy(i) ON NOT (dx.i = 0 AND dy.i = 0)
  JOIN hist nb ON nb.ix = h.ix + dx.i AND nb.iy = h.iy + dy.i
  GROUP BY 1, 2
)
SELECT h.ix, h.iy, CAST(h.cnt AS BIGINT) AS cnt,
       CAST(COALESCE(n.nnd, 5) AS BIGINT) AS nnd
FROM hist h LEFT JOIN near n ON n.six = h.ix AND n.siy = h.iy
"""


REGISTRY.update({"tile_isolation": (q_tile_isolation, O_TILE_ISOLATION)})


def q_vignette_scores(spark, sf_dir):
    """Vignetting audit (operators/images.py ``vignette_scores``):
    exact border-vs-center luminance mean ratio in milli over the raw
    frame fixture; oracle replays the half-box split on hex pixels."""
    from ..datagen import ensure_quality_images
    from ..operators.images import vignette_scores

    imgs = _synth_images(spark, sf_dir).filter(
        (F.col("fmt") == "raw")
        & (F.substring("image_id", 4, 9).cast("long") % 16 == 0)
    ).unionByName(spark.read.parquet(ensure_quality_images("sf0.01")))
    return vignette_scores(imgs)


O_VIGNETTE_SCORES = f"""
WITH {_QUALITY_RAW_V},
lum AS MATERIALIZED (
  SELECT image_id, w, h, (i - 9) // 3 AS p,
         (2126 * CAST(SUM(CASE WHEN (i - 9) % 3 = 0 THEN bv ELSE 0 END)
                      AS BIGINT)
        + 7152 * CAST(SUM(CASE WHEN (i - 9) % 3 = 1 THEN bv ELSE 0 END)
                      AS BIGINT)
        + 722 * CAST(SUM(CASE WHEN (i - 9) % 3 = 2 THEN bv ELSE 0 END)
                     AS BIGINT)) // 10000 AS l
  FROM b WHERE i >= 9 GROUP BY 1, 2, 3, 4
),
split AS (
  SELECT image_id,
         CASE WHEN (p // w) >= (h // 4) AND (p // w) < h - (h // 4)
               AND (p % w) >= (w // 4) AND (p % w) < w - (w // 4)
              THEN 1 ELSE 0 END AS is_center, l
  FROM lum WHERE h >= 4 AND w >= 4
),
agg AS (
  SELECT image_id,
         CAST(sum(1 - is_center) AS BIGINT) AS n_border,
         CAST(sum(CASE WHEN is_center = 0 THEN l ELSE 0 END) AS BIGINT)
           AS sum_border,
         CAST(sum(is_center) AS BIGINT) AS n_center,
         CAST(sum(CASE WHEN is_center = 1 THEN l ELSE 0 END) AS BIGINT)
           AS sum_center
  FROM split GROUP BY 1
),
ids AS (SELECT DISTINCT image_id FROM v)
SELECT ids.image_id,
       COALESCE(n_border, 0) AS n_border,
       COALESCE(sum_border, 0) AS sum_border,
       COALESCE(n_center, 0) AS n_center,
       COALESCE(sum_center, 0) AS sum_center,
       CASE WHEN sum_center > 0 AND n_border > 0
            THEN CAST((1000 * sum_border * n_center)
                      // (sum_center * n_border) AS BIGINT)
            ELSE NULL END AS vign_milli,
       CAST(CASE WHEN sum_center > 0 AND n_border > 0
                  AND (1000 * sum_border * n_center)
                      // (sum_center * n_border) <= 800
                 THEN 1 ELSE 0 END AS INT) AS is_vignetted
FROM ids LEFT JOIN agg ON agg.image_id = ids.image_id
"""


REGISTRY.update({"vignette_scores": (q_vignette_scores, O_VIGNETTE_SCORES)})


def q_embedding_norm_audit(spark, sf_dir):
    """Per-vector quantized-norm outlier audit (operators/similarity.py
    ``embedding_norm_audit``): exact integer norms, exact rank tails."""
    from ..operators.similarity import embedding_norm_audit

    return embedding_norm_audit(
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    )


O_EMBEDDING_NORM_AUDIT = """
WITH norms AS (
  SELECT vec_id AS id,
         CAST(sum(CAST(round(CAST(v AS DOUBLE) * 1000.0) AS BIGINT)
                  * CAST(round(CAST(v AS DOUBLE) * 1000.0) AS BIGINT))
              AS BIGINT) AS norm2_q
  FROM embeddings, unnest(embedding) AS t(v)
  GROUP BY 1
),
ranked AS (
  SELECT id, norm2_q,
         row_number() OVER (ORDER BY norm2_q, id) AS rank,
         count(*) OVER () AS n
  FROM norms
)
SELECT id, norm2_q, CAST(rank AS BIGINT) AS rank, CAST(n AS BIGINT) AS n,
       CAST(CASE WHEN rank <= (10 * n) // 1000
                   OR rank > n - (10 * n) // 1000
                 THEN 1 ELSE 0 END AS INT) AS is_outlier
FROM ranked
"""


REGISTRY.update(
    {"embedding_norm_audit": (q_embedding_norm_audit, O_EMBEDDING_NORM_AUDIT)}
)


def q_temporal_drift(spark, sf_dir):
    """Hour-profile cosine statistics across adjacent occupied cells
    (operators/tiling.py ``temporal_drift``): exact integer dot/norms —
    temporal-regime boundary detection at res 6."""
    from ..operators.tiling import temporal_drift

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev.createOrReplaceTempView("__tdrift_events")
    t = spark.sql(
        f"SELECT ts, {TRAJ_LAT_SQL} AS lat, {TRAJ_LON_SQL} AS lon "
        "FROM __tdrift_events"
    )
    return temporal_drift(t, res=6)


O_TEMPORAL_DRIFT = f"""
WITH src AS (
  SELECT (CAST(floor(epoch(ts)) AS BIGINT) % 86400) // 3600 AS h,
         {TRAJ_LAT_SQL} AS lat, {TRAJ_LON_SQL} AS lon
  FROM events
),
hist AS (
  SELECT LEAST(GREATEST(CAST(FLOOR((lon + 180.0) / CAST(360.0 AS DOUBLE)
             * 64.0) AS BIGINT), 0), 63) AS ix,
         LEAST(GREATEST(CAST(FLOOR((lat + 90.0) / CAST(180.0 AS DOUBLE)
             * 64.0) AS BIGINT), 0), 63) AS iy,
         h, count(*) AS cnt
  FROM src GROUP BY 1, 2, 3
),
norms AS (
  SELECT ix, iy, sum(cnt * cnt) AS n2 FROM hist GROUP BY 1, 2
),
dirs AS (SELECT * FROM (VALUES ('E', 1, 0), ('N', 0, 1)) d(dir, dx, dy)),
dots AS (
  SELECT a.ix, a.iy, d.dir, sum(a.cnt * b.cnt) AS dot
  FROM hist a
  JOIN dirs d ON TRUE
  JOIN hist b ON b.ix = a.ix + d.dx AND b.iy = a.iy + d.dy AND b.h = a.h
  GROUP BY 1, 2, 3
)
SELECT na.ix, na.iy, d.dir, CAST(COALESCE(t.dot, 0) AS BIGINT) AS dot,
       CAST(na.n2 AS BIGINT) AS na2, CAST(nb.n2 AS BIGINT) AS nb2
FROM norms na
JOIN dirs d ON TRUE
JOIN norms nb ON nb.ix = na.ix + d.dx AND nb.iy = na.iy + d.dy
LEFT JOIN dots t ON t.ix = na.ix AND t.iy = na.iy AND t.dir = d.dir
"""


REGISTRY.update({"temporal_drift": (q_temporal_drift, O_TEMPORAL_DRIFT)})


def q_ks_two_sample(spark, sf_dir):
    """Exact two-sample KS drift statistic (operators/sketches.py
    ``ks_two_sample``) between 'click' and 'purchase' value
    distributions — integer cross-multiplied ECDF gap plus the split
    point."""
    from ..operators.sketches import ks_two_sample

    return ks_two_sample(
        spark.read.parquet(f"{sf_dir}/events.parquet"), "click", "purchase"
    )


O_KS_TWO_SAMPLE = """
WITH hist AS (
  SELECT CAST(round(CAST(value AS DOUBLE) * 1000.0) AS BIGINT) AS y,
         sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS da,
         sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS db
  FROM events WHERE event_type IN ('click', 'purchase')
  GROUP BY 1
),
cum AS (
  SELECT y,
         sum(da) OVER (ORDER BY y ROWS UNBOUNDED PRECEDING) AS ca,
         sum(db) OVER (ORDER BY y ROWS UNBOUNDED PRECEDING) AS cb
  FROM hist
),
tot AS (SELECT sum(da) AS n_a, sum(db) AS n_b FROM hist),
gap AS (
  SELECT t.n_a, t.n_b, abs(c.ca * t.n_b - c.cb * t.n_a) AS g, c.y
  FROM cum c, tot t
),
mx AS (SELECT max(g) AS d_num FROM gap)
SELECT CAST(g.n_a AS BIGINT) AS n_a, CAST(g.n_b AS BIGINT) AS n_b,
       CAST(mx.d_num AS BIGINT) AS d_num,
       CAST(g.n_a * g.n_b AS BIGINT) AS d_den,
       CAST(min(g.y) AS BIGINT) AS at_y
FROM gap g, mx WHERE g.g = mx.d_num
GROUP BY 1, 2, 3, 4
"""


REGISTRY.update({"ks_two_sample": (q_ks_two_sample, O_KS_TWO_SAMPLE)})


def q_funnel_steps(spark, sf_dir):
    """Ordered funnel completion view -> click -> purchase
    (operators/asof.py ``funnel_steps``): greedy-earliest semantics,
    strictly-increasing timestamps, one row of exact counts."""
    from ..operators.asof import funnel_steps

    return funnel_steps(spark.read.parquet(f"{sf_dir}/events.parquet"))


O_FUNNEL_STEPS = """
WITH s1 AS (
  SELECT user_id AS entity, min(ts) AS t1 FROM events
  WHERE event_type = 'view' GROUP BY 1
),
s2 AS (
  SELECT e.user_id AS entity, min(e.ts) AS t2
  FROM events e JOIN s1 ON s1.entity = e.user_id
  WHERE e.event_type = 'click' AND e.ts > s1.t1
  GROUP BY 1
),
s3 AS (
  SELECT e.user_id AS entity, min(e.ts) AS t3
  FROM events e JOIN s2 ON s2.entity = e.user_id
  WHERE e.event_type = 'purchase' AND e.ts > s2.t2
  GROUP BY 1
)
SELECT CAST((SELECT count(DISTINCT user_id) FROM events) AS BIGINT)
         AS n_entities,
       CAST((SELECT count(*) FROM s1) AS BIGINT) AS n_step1,
       CAST((SELECT count(*) FROM s2) AS BIGINT) AS n_step2,
       CAST((SELECT count(*) FROM s3) AS BIGINT) AS n_step3
"""


REGISTRY.update({"funnel_steps": (q_funnel_steps, O_FUNNEL_STEPS)})


def q_type_transitions(spark, sf_dir):
    """Behavioral Markov-chain statistics (operators/asof.py
    ``type_transitions``): consecutive same-user event-type pair counts
    plus from-state marginals."""
    from ..operators.asof import type_transitions

    return type_transitions(spark.read.parquet(f"{sf_dir}/events.parquet"))


O_TYPE_TRANSITIONS = """
WITH seq AS (
  SELECT user_id,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS from_type,
         event_type AS to_type
  FROM events
),
pairs AS (
  SELECT from_type, to_type, count(*) AS n_pairs
  FROM seq WHERE from_type IS NOT NULL GROUP BY 1, 2
),
marg AS (SELECT from_type, sum(n_pairs) AS n_from FROM pairs GROUP BY 1)
SELECT p.from_type, p.to_type, CAST(p.n_pairs AS BIGINT) AS n_pairs,
       CAST(m.n_from AS BIGINT) AS n_from
FROM pairs p JOIN marg m ON m.from_type = p.from_type
"""


REGISTRY.update({"type_transitions": (q_type_transitions, O_TYPE_TRANSITIONS)})


def q_tile_peak_hour(spark, sf_dir):
    """Per-cell peak-hour map (operators/tiling.py ``tile_peak_hour``):
    argmax hour by (count, smallest-hour) with exact milli share."""
    from ..operators.tiling import tile_peak_hour

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev.createOrReplaceTempView("__peak_events")
    t = spark.sql(
        f"SELECT ts, {TRAJ_LAT_SQL} AS lat, {TRAJ_LON_SQL} AS lon "
        "FROM __peak_events"
    )
    return tile_peak_hour(t, res=7)


O_TILE_PEAK_HOUR = f"""
WITH src AS (
  SELECT (CAST(floor(epoch(ts)) AS BIGINT) % 86400) // 3600 AS h,
         {TRAJ_LAT_SQL} AS lat, {TRAJ_LON_SQL} AS lon
  FROM events
),
hist AS (
  SELECT {_tile_sql(7)} AS tile, h, count(*) AS cnt
  FROM src GROUP BY 1, 2
),
rk AS (
  SELECT tile, h, cnt,
         row_number() OVER (PARTITION BY tile ORDER BY cnt DESC, h ASC)
           AS rn,
         sum(cnt) OVER (PARTITION BY tile) AS n
  FROM hist
)
SELECT tile, CAST(h AS BIGINT) AS peak_hour, CAST(cnt AS BIGINT) AS peak_cnt,
       CAST(n AS BIGINT) AS n_events,
       CAST((1000 * cnt) // n AS BIGINT) AS share_milli
FROM rk WHERE rn = 1
"""


REGISTRY.update({"tile_peak_hour": (q_tile_peak_hour, O_TILE_PEAK_HOUR)})


def q_phash_bit_bias(spark, sf_dir):
    """Per-bit pHash bias audit (operators/images.py ``phash_bit_bias``):
    stuck bits shrink the effective Hamming space and blow up LSH
    bands; exact ones-counts per bit position."""
    from ..operators.images import phash_bit_bias

    return phash_bit_bias(_synth_images(spark, sf_dir))


O_PHASH_BIT_BIAS = f"""
WITH img AS (SELECT phash FROM read_parquet('{SYNTH_SF001_IMAGES}')),
flat AS (
  SELECT k.bit, (phash >> k.bit) & 1 AS b
  FROM img JOIN generate_series(0, 63) k(bit) ON TRUE
)
SELECT CAST(bit AS BIGINT) AS bit, CAST(sum(b) AS BIGINT) AS n_ones,
       CAST(count(*) AS BIGINT) AS n_images,
       CAST(abs(2 * sum(b) - count(*)) AS BIGINT) AS bias_num
FROM flat GROUP BY 1
"""


REGISTRY.update({"phash_bit_bias": (q_phash_bit_bias, O_PHASH_BIT_BIAS)})


def q_image_emd(spark, sf_dir):
    """Per-image exact 1-D EMD vs the corpus-mean luminance histogram
    (operators/images.py ``image_emd_outliers``) — the tonal
    domain-shift outlier score; the oracle expands sparse per-image
    cumulative bins with an ASOF join."""
    from ..datagen import ensure_quality_images
    from ..operators.images import image_emd_outliers

    imgs = _synth_images(spark, sf_dir).filter(
        (F.col("fmt") == "raw")
        & (F.substring("image_id", 4, 9).cast("long") % 16 == 0)
    ).unionByName(spark.read.parquet(ensure_quality_images("sf0.01")))
    return image_emd_outliers(imgs)


O_IMAGE_EMD = f"""
WITH {_QUALITY_RAW_V},
lum AS MATERIALIZED (
  SELECT image_id,
         (2126 * CAST(SUM(CASE WHEN (i - 9) % 3 = 0 THEN bv ELSE 0 END)
                      AS BIGINT)
        + 7152 * CAST(SUM(CASE WHEN (i - 9) % 3 = 1 THEN bv ELSE 0 END)
                      AS BIGINT)
        + 722 * CAST(SUM(CASE WHEN (i - 9) % 3 = 2 THEN bv ELSE 0 END)
                     AS BIGINT)) // 10000 AS l
  FROM b WHERE i >= 9 GROUP BY image_id, (i - 9) // 3
),
nz AS MATERIALIZED (
  SELECT image_id, l AS bin,
         sum(count(*)) OVER (PARTITION BY image_id ORDER BY l) AS cum_i
  FROM lum GROUP BY 1, 2
),
sizes AS (SELECT image_id, count(*) AS n_px FROM lum GROUP BY 1),
grid AS (
  SELECT s.image_id, s.n_px, t.i AS bin
  FROM sizes s JOIN generate_series(0, 255) t(i) ON TRUE
),
expanded AS MATERIALIZED (
  SELECT grid.image_id, grid.n_px, grid.bin,
         COALESCE(nz.cum_i, 0) AS cum_i
  FROM grid ASOF LEFT JOIN nz
    ON nz.image_id = grid.image_id AND nz.bin <= grid.bin
),
corpus AS (
  SELECT bin, sum(cum_i) AS ccum FROM expanded GROUP BY 1
),
total AS (SELECT sum(n_px) AS n_total FROM sizes)
SELECT e.image_id, CAST(e.n_px AS BIGINT) AS n_px,
       CAST(sum(abs(e.cum_i * t.n_total - c.ccum * e.n_px)) AS BIGINT)
         AS d_num,
       CAST(e.n_px * t.n_total AS BIGINT) AS d_den
FROM expanded e
JOIN corpus c ON c.bin = e.bin
CROSS JOIN total t
GROUP BY e.image_id, e.n_px, t.n_total
"""


REGISTRY.update({"image_emd": (q_image_emd, O_IMAGE_EMD)})


def q_od_weekend_shift(spark, sf_dir):
    """Weekend-vs-weekday OD regime shift (operators/tiling.py
    ``od_weekend_shift``): exact cross-multiplied L1 between the two
    flow distributions at res 6."""
    from ..operators.tiling import od_weekend_shift

    return od_weekend_shift(_traj(spark, sf_dir), res=6)


O_OD_WEEKEND_SHIFT = f"""
WITH {TRAJ_SRC_CTE},
seq AS (
  SELECT user_id,
         lag({_tile_sql(6)}) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS from_tile,
         {_tile_sql(6)} AS to_tile,
         CASE WHEN ((ep // 86400) + 4) % 7 IN (0, 6) THEN 1 ELSE 0 END AS we
  FROM src
),
od AS (
  SELECT from_tile, to_tile, sum(we) AS c_we, sum(1 - we) AS c_wd
  FROM seq WHERE from_tile IS NOT NULL GROUP BY 1, 2
),
tot AS (SELECT sum(c_we) AS n_we, sum(c_wd) AS n_wd FROM od)
SELECT CAST(t.n_we AS BIGINT) AS n_we, CAST(t.n_wd AS BIGINT) AS n_wd,
       CAST(sum(abs(o.c_we * t.n_wd - o.c_wd * t.n_we)) AS BIGINT)
         AS shift_num,
       CAST(t.n_we * t.n_wd AS BIGINT) AS shift_den
FROM od o, tot t
GROUP BY t.n_we, t.n_wd
"""


REGISTRY.update({"od_weekend_shift": (q_od_weekend_shift, O_OD_WEEKEND_SHIFT)})


def q_degree_spectrum(spark, sf_dir):
    """Degree octave spectrum of the co-visitation contact graph
    (operators/graphs.py ``degree_spectrum``): hub early-warning via the
    shared 41-octave literal dim."""
    from ..operators.graphs import degree_spectrum
    from ..operators.tiling import co_visitation

    edges = co_visitation(_traj(spark, sf_dir), res=KCORE_RES,
                          min_days=KCORE_MIN)
    return degree_spectrum(edges)


def _o_degree_spectrum() -> str:
    from ..operators.textstats import FREQ_OCTAVES_SQL

    return f"""
WITH {TRAJ_SRC_CTE},
pres AS (
  SELECT DISTINCT
    LEAST(GREATEST(CAST(FLOOR((lon + 180.0) / CAST(360.0 AS DOUBLE) * {_KCN}.0)
            AS BIGINT), 0), {_KCN - 1}) * {_KCN}
  + LEAST(GREATEST(CAST(FLOOR((lat + 90.0) / CAST(180.0 AS DOUBLE) * {_KCN}.0)
            AS BIGINT), 0), {_KCN - 1}) AS tile,
    ep // 86400 AS day, user_id AS entity
  FROM src
),
prs AS (
  SELECT DISTINCT p.entity AS a, q.entity AS b, p.day
  FROM pres p JOIN pres q
    ON q.tile = p.tile AND q.day = p.day AND p.entity < q.entity
),
edges AS (
  SELECT a, b FROM prs GROUP BY a, b HAVING count(*) >= {KCORE_MIN}
),
deg AS (
  SELECT v, count(*) AS deg FROM (
    SELECT a AS v FROM edges UNION ALL SELECT b FROM edges
  ) GROUP BY 1
)
SELECT CAST(o.k AS BIGINT) AS octave,
       CAST(count(*) AS BIGINT) AS n_vertices,
       CAST(sum(deg) AS BIGINT) AS n_endpoints
FROM deg JOIN (VALUES {FREQ_OCTAVES_SQL}) o(k, lo, hi)
  ON deg >= o.lo AND deg <= o.hi
GROUP BY 1
"""


REGISTRY.update({"degree_spectrum": (q_degree_spectrum, _o_degree_spectrum())})


def q_symmetry_scores(spark, sf_dir):
    """Horizontal mirror-symmetry audit (operators/images.py
    ``symmetry_scores``): exact |lum - mirror| sums over the raw frame
    fixture; oracle mirrors via a (row, w-1-c) self-join."""
    from ..datagen import ensure_quality_images
    from ..operators.images import symmetry_scores

    imgs = _synth_images(spark, sf_dir).filter(
        (F.col("fmt") == "raw")
        & (F.substring("image_id", 4, 9).cast("long") % 16 == 0)
    ).unionByName(spark.read.parquet(ensure_quality_images("sf0.01")))
    return symmetry_scores(imgs)


O_SYMMETRY_SCORES = f"""
WITH {_QUALITY_RAW_V},
lum AS MATERIALIZED (
  SELECT image_id, w, (i - 9) // 3 AS p,
         (2126 * CAST(SUM(CASE WHEN (i - 9) % 3 = 0 THEN bv ELSE 0 END)
                      AS BIGINT)
        + 7152 * CAST(SUM(CASE WHEN (i - 9) % 3 = 1 THEN bv ELSE 0 END)
                      AS BIGINT)
        + 722 * CAST(SUM(CASE WHEN (i - 9) % 3 = 2 THEN bv ELSE 0 END)
                     AS BIGINT)) // 10000 AS l
  FROM b WHERE i >= 9 GROUP BY 1, 2, 3
),
m AS (
  SELECT a.image_id, count(*) AS n_px, sum(abs(a.l - mr.l)) AS sad
  FROM lum a
  JOIN lum mr ON mr.image_id = a.image_id
    AND mr.p = (a.p // a.w) * a.w + (a.w - 1 - (a.p % a.w))
  GROUP BY 1
)
SELECT image_id, CAST(n_px AS BIGINT) AS n_px,
       CAST(sad AS BIGINT) AS sum_absdiff,
       CAST((1000 * sad) // (255 * n_px) AS BIGINT) AS asym_milli,
       CAST(CASE WHEN (1000 * sad) // (255 * n_px) <= 50
                 THEN 1 ELSE 0 END AS INT) AS is_symmetric
FROM m
"""


REGISTRY.update({"symmetry_scores": (q_symmetry_scores, O_SYMMETRY_SCORES)})


def q_ks_doc_length(spark, sf_dir):
    """Source-drift gate on DOCUMENT LENGTHS: ``ks_two_sample`` re-aimed
    at the corpus (value = text length in characters, groups = two
    sources) — the per-source ingest monitor; same exact
    cross-multiplied ECDF machinery, q_scale 1 (lengths are already
    integers)."""
    from ..operators.sketches import ks_two_sample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "source", F.length("text").cast("double").alias("value")
    )
    return ks_two_sample(docs, "src0", "src1", group_col="source", q_scale=1)


O_KS_DOC_LENGTH = """
WITH hist AS (
  SELECT CAST(round(CAST(length(text) AS DOUBLE) * 1.0) AS BIGINT) AS y,
         sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS da,
         sum(CASE WHEN source = 'src1' THEN 1 ELSE 0 END) AS db
  FROM documents WHERE source IN ('src0', 'src1')
  GROUP BY 1
),
cum AS (
  SELECT y,
         sum(da) OVER (ORDER BY y ROWS UNBOUNDED PRECEDING) AS ca,
         sum(db) OVER (ORDER BY y ROWS UNBOUNDED PRECEDING) AS cb
  FROM hist
),
tot AS (SELECT sum(da) AS n_a, sum(db) AS n_b FROM hist),
gap AS (
  SELECT t.n_a, t.n_b, abs(c.ca * t.n_b - c.cb * t.n_a) AS g, c.y
  FROM cum c, tot t
),
mx AS (SELECT max(g) AS d_num FROM gap)
SELECT CAST(g.n_a AS BIGINT) AS n_a, CAST(g.n_b AS BIGINT) AS n_b,
       CAST(mx.d_num AS BIGINT) AS d_num,
       CAST(g.n_a * g.n_b AS BIGINT) AS d_den,
       CAST(min(g.y) AS BIGINT) AS at_y
FROM gap g, mx WHERE g.g = mx.d_num
GROUP BY 1, 2, 3, 4
"""


REGISTRY.update({"ks_doc_length": (q_ks_doc_length, O_KS_DOC_LENGTH)})


def q_color_cast(spark, sf_dir):
    """Color-cast audit (operators/images.py ``color_cast_scores``):
    exact channel sums + dominant/weakest mean ratio in milli."""
    from ..datagen import ensure_quality_images
    from ..operators.images import color_cast_scores

    imgs = _synth_images(spark, sf_dir).filter(
        (F.col("fmt") == "raw")
        & (F.substring("image_id", 4, 9).cast("long") % 16 == 0)
    ).unionByName(spark.read.parquet(ensure_quality_images("sf0.01")))
    return color_cast_scores(imgs)


O_COLOR_CAST = f"""
WITH {_QUALITY_RAW_V},
ch AS (
  SELECT image_id,
         CAST(count(*) / 3 AS BIGINT) AS n_px,
         CAST(SUM(CASE WHEN (i - 9) % 3 = 0 THEN bv ELSE 0 END) AS BIGINT)
           AS sum_r,
         CAST(SUM(CASE WHEN (i - 9) % 3 = 1 THEN bv ELSE 0 END) AS BIGINT)
           AS sum_g,
         CAST(SUM(CASE WHEN (i - 9) % 3 = 2 THEN bv ELSE 0 END) AS BIGINT)
           AS sum_b
  FROM b WHERE i >= 9 GROUP BY 1
)
SELECT image_id, n_px, sum_r, sum_g, sum_b,
       CASE WHEN least(sum_r, sum_g, sum_b) > 0
            THEN CAST((1000 * greatest(sum_r, sum_g, sum_b))
                      // least(sum_r, sum_g, sum_b) AS BIGINT)
            ELSE NULL END AS cast_milli,
       CAST(CASE WHEN least(sum_r, sum_g, sum_b) > 0
                  AND (1000 * greatest(sum_r, sum_g, sum_b))
                      // least(sum_r, sum_g, sum_b) <= 1200
                 THEN 1 ELSE 0 END AS INT) AS is_neutral
FROM ch
"""


REGISTRY.update({"color_cast": (q_color_cast, O_COLOR_CAST)})


def q_od_concentration(spark, sf_dir):
    """Per-origin outgoing-flow Herfindahl (operators/tiling.py
    ``od_concentration``) at res 6 — exact integer concentration of
    destination choice per origin cell."""
    from ..operators.tiling import od_concentration

    return od_concentration(_traj(spark, sf_dir), res=6)


O_OD_CONCENTRATION = f"""
WITH {TRAJ_SRC_CTE},
seq AS (
  SELECT user_id,
         lag({_tile_sql(6)}) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS from_tile,
         {_tile_sql(6)} AS to_tile
  FROM src
),
od AS (
  SELECT from_tile, to_tile, count(*) AS c
  FROM seq WHERE from_tile IS NOT NULL GROUP BY 1, 2
)
SELECT from_tile, CAST(count(*) AS BIGINT) AS n_dests,
       CAST(sum(c) AS BIGINT) AS n_out,
       CAST(sum(c * c) AS BIGINT) AS hhi_num,
       CAST(sum(c) * sum(c) AS BIGINT) AS hhi_den
FROM od GROUP BY 1
"""


REGISTRY.update({"od_concentration": (q_od_concentration, O_OD_CONCENTRATION)})


def q_region_peak_hour(spark, sf_dir):
    """Per-POLYGON peak hour: the PIP x temporal crossover — exact
    ray-cast region assignment (operators/pip_join.py ``pip_join``)
    rolled into the ``tile_peak_hour`` argmax contract (count ties to
    the smallest hour), per admin region instead of per cell."""
    from ..operators.pip_join import pip_join

    t = _traj(spark, sf_dir).select(
        F.col("event_id").alias("point_id"), "lat", "lon",
        F.expr("(unix_timestamp(ts) % 86400) div 3600").alias("h"),
    )
    owned = pip_join(
        t.select("point_id", "lat", "lon"), geo_polygons_df(spark),
        res=8, id_col="point_id",
    ).select("point_id", "polygon_id")
    hist = (
        owned.join(t.select("point_id", "h"), "point_id")
        .groupBy("polygon_id", "h")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    agg = hist.groupBy("polygon_id").agg(
        F.max(
            F.struct(F.col("cnt").alias("c"), (-F.col("h")).alias("nh"))
        ).alias("m"),
        F.sum("cnt").alias("n_events"),
    )
    return agg.select(
        "polygon_id",
        (-F.col("m.nh")).alias("peak_hour"),
        F.col("m.c").alias("peak_cnt"),
        "n_events",
        F.expr("1000 * m.c div n_events").alias("share_milli"),
    )


O_REGION_PEAK_HOUR = (
    f"""
WITH {TRAJ_SRC_CTE},
pts AS (
  SELECT event_id AS point_id, lat, lon,
         (ep % 86400) // 3600 AS h
  FROM src
),
owned AS ("""
    + " UNION ALL ".join(
        f"SELECT point_id, h, '{pid}' AS polygon_id FROM pts WHERE {pred}"
        for pid, pred in POLY_PRED_SQL.items()
    )
    + """),
hist AS (
  SELECT polygon_id, h, count(*) AS cnt FROM owned GROUP BY 1, 2
),
rk AS (
  SELECT polygon_id, h, cnt,
         row_number() OVER (PARTITION BY polygon_id
                            ORDER BY cnt DESC, h ASC) AS rn,
         sum(cnt) OVER (PARTITION BY polygon_id) AS n
  FROM hist
)
SELECT polygon_id, CAST(h AS BIGINT) AS peak_hour,
       CAST(cnt AS BIGINT) AS peak_cnt, CAST(n AS BIGINT) AS n_events,
       CAST((1000 * cnt) // n AS BIGINT) AS share_milli
FROM rk WHERE rn = 1
"""
)


REGISTRY.update({"region_peak_hour": (q_region_peak_hour, O_REGION_PEAK_HOUR)})


def q_pair_contact_time(spark, sf_dir):
    """Exact contact seconds for the deterministic top-N co-visitation
    pair slice (operators/spatial.py ``pair_contact_time``): step-
    function presence intervals, same-tile overlap integration."""
    from ..operators.spatial import pair_contact_time
    from ..operators.tiling import co_visitation

    t = _traj(spark, sf_dir)
    pairs = (
        co_visitation(t, res=KCORE_RES, min_days=KCORE_MIN)
        .orderBy("a", "b").limit(FRECHET_TOPN)
    )
    return pair_contact_time(t, pairs, res=KCORE_RES)


O_PAIR_CONTACT_TIME = f"""
WITH {TRAJ_SRC_CTE},
pres AS (
  SELECT DISTINCT
    LEAST(GREATEST(CAST(FLOOR((lon + 180.0) / CAST(360.0 AS DOUBLE) * {_KCN}.0)
            AS BIGINT), 0), {_KCN - 1}) * {_KCN}
  + LEAST(GREATEST(CAST(FLOOR((lat + 90.0) / CAST(180.0 AS DOUBLE) * {_KCN}.0)
            AS BIGINT), 0), {_KCN - 1}) AS tile,
    ep // 86400 AS day, user_id AS entity
  FROM src
),
prs AS (
  SELECT DISTINCT p.entity AS a, q.entity AS b, p.day
  FROM pres p JOIN pres q
    ON q.tile = p.tile AND q.day = p.day AND p.entity < q.entity
),
sel AS (
  SELECT a, b FROM prs GROUP BY a, b HAVING count(*) >= {KCORE_MIN}
  ORDER BY a, b LIMIT {FRECHET_TOPN}
),
iv AS MATERIALIZED (
  SELECT user_id AS entity, {_tile_sql(KCORE_RES)} AS tile, ep AS s,
         lead(ep) OVER (PARTITION BY user_id ORDER BY ep, event_id) AS e
  FROM src
  QUALIFY e IS NOT NULL AND e > s
)
SELECT s.a, s.b, CAST(count(*) AS BIGINT) AS n_overlaps,
       CAST(sum(least(ia.e, ib.e) - greatest(ia.s, ib.s)) AS BIGINT)
         AS contact_sec
FROM sel s
JOIN iv ia ON ia.entity = s.a
JOIN iv ib ON ib.entity = s.b AND ib.tile = ia.tile
          AND ia.s < ib.e AND ib.s < ia.e
GROUP BY 1, 2
"""


REGISTRY.update({"pair_contact_time": (q_pair_contact_time, O_PAIR_CONTACT_TIME)})


def q_hour_type_mix(spark, sf_dir):
    """Hour x event-type independence residuals (operators/tiling.py
    ``hour_type_mix``): exact cross-multiplied contingency deviations."""
    from ..operators.tiling import hour_type_mix

    return hour_type_mix(spark.read.parquet(f"{sf_dir}/events.parquet"))


O_HOUR_TYPE_MIX = """
WITH base AS (
  SELECT (CAST(floor(epoch(ts)) AS BIGINT) % 86400) // 3600 AS hour,
         event_type AS etype
  FROM events
),
obs AS (SELECT hour, etype, count(*) AS obs FROM base GROUP BY 1, 2),
mh AS (SELECT hour, sum(obs) AS n_hour FROM obs GROUP BY 1),
mt AS (SELECT etype, sum(obs) AS n_type FROM obs GROUP BY 1),
tot AS (SELECT sum(obs) AS n_total FROM obs)
SELECT o.hour, o.etype, CAST(o.obs AS BIGINT) AS obs,
       CAST(mh.n_hour AS BIGINT) AS n_hour,
       CAST(mt.n_type AS BIGINT) AS n_type,
       CAST(o.obs * t.n_total - mh.n_hour * mt.n_type AS BIGINT) AS res_num,
       CAST(t.n_total AS BIGINT) AS res_den
FROM obs o
JOIN mh ON mh.hour = o.hour
JOIN mt ON mt.etype = o.etype
CROSS JOIN tot t
"""


REGISTRY.update({"hour_type_mix": (q_hour_type_mix, O_HOUR_TYPE_MIX)})


def q_region_density(spark, sf_dir):
    """Per-region event DENSITY as an exact rational: ray-cast PIP
    counts (operators/pip_join.py ``pip_join``) over the shoelace
    |area2_q| (operators/spatial.py ``polygon_area_centroid``) —
    density = 2e9 * n_events / |area2_q| events per deg^2, kept as
    (num, den); the load-balance signal for region-sharded serving."""
    from ..operators.pip_join import pip_join
    from ..operators.spatial import polygon_area_centroid

    t = _traj(spark, sf_dir).select(
        F.col("event_id").alias("point_id"), "lat", "lon"
    )
    polys = geo_polygons_df(spark)
    counts = (
        pip_join(t, polys, res=8, id_col="point_id")
        .groupBy("polygon_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    areas = polygon_area_centroid(polys).select(
        "polygon_id", F.abs(F.col("area2_q")).alias("abs_area2_q")
    )
    return counts.join(F.broadcast(areas), "polygon_id").select(
        "polygon_id", "n_events", "abs_area2_q",
        (F.col("n_events") * F.lit(2_000_000_000)).alias("dens_num"),
        F.col("abs_area2_q").alias("dens_den"),
    )


def _o_region_density() -> str:
    import math

    areas = []
    for pid, ring in GEO_POLYGONS:
        m = len(ring)
        a2 = 0
        for i in range(m):
            (y1, x1), (y2, x2) = ring[i], ring[(i + 1) % m]
            a2 += math.floor((x1 * y2 - x2 * y1) * 1e9)
        areas.append(f"('{pid}', {abs(a2)})")
    return (
        f"""
WITH {TRAJ_SRC_CTE},
pts AS (SELECT event_id AS point_id, lat, lon FROM src),
owned AS ("""
        + " UNION ALL ".join(
            f"SELECT point_id, '{pid}' AS polygon_id FROM pts WHERE {pred}"
            for pid, pred in POLY_PRED_SQL.items()
        )
        + f"""),
counts AS (SELECT polygon_id, count(*) AS n_events FROM owned GROUP BY 1),
areas AS (SELECT * FROM (VALUES {', '.join(areas)}) a(polygon_id, abs_area2_q))
SELECT c.polygon_id, CAST(c.n_events AS BIGINT) AS n_events,
       CAST(a.abs_area2_q AS BIGINT) AS abs_area2_q,
       CAST(c.n_events * 2000000000 AS BIGINT) AS dens_num,
       CAST(a.abs_area2_q AS BIGINT) AS dens_den
FROM counts c JOIN areas a ON a.polygon_id = c.polygon_id
"""
    )


REGISTRY.update({"region_density": (q_region_density, _o_region_density())})


def q_stream_hour_type_mix(spark, sf_dir):
    """Streaming-vs-batch parity gate for the hour x type contingency
    (streaming/microbatch.py ``stream_hour_type_counts``): order-free
    counts, rank-interleaved staging; the finished state must equal
    ``hour_type_mix`` exactly (same oracle)."""
    from ..streaming.microbatch import run_hour_type_stream_once

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "ts", "event_type"
    )
    return _run_staged_stream(
        _thirds(_stream_pdf(ev, "ts", "event_type"), interleaved=True),
        lambda src, ckpt: run_hour_type_stream_once(spark, src, ckpt),
    )


REGISTRY.update(
    {"stream_hour_type_mix": (q_stream_hour_type_mix, O_HOUR_TYPE_MIX)}
)


def q_image_bimodality(spark, sf_dir):
    """Per-image luminance bimodality (operators/images.py
    ``image_bimodality``): Sarle's b over pixel moments — the backlit /
    hard-split detector; oracle replays the HUGEINT moment algebra over
    hex pixels."""
    from ..datagen import ensure_quality_images
    from ..operators.images import image_bimodality

    imgs = _synth_images(spark, sf_dir).filter(
        (F.col("fmt") == "raw")
        & (F.substring("image_id", 4, 9).cast("long") % 16 == 0)
    ).unionByName(spark.read.parquet(ensure_quality_images("sf0.01")))
    return image_bimodality(imgs)


O_IMAGE_BIMODALITY = f"""
WITH {_QUALITY_RAW_V},
lum AS MATERIALIZED (
  SELECT image_id,
         (2126 * CAST(SUM(CASE WHEN (i - 9) % 3 = 0 THEN bv ELSE 0 END)
                      AS BIGINT)
        + 7152 * CAST(SUM(CASE WHEN (i - 9) % 3 = 1 THEN bv ELSE 0 END)
                      AS BIGINT)
        + 722 * CAST(SUM(CASE WHEN (i - 9) % 3 = 2 THEN bv ELSE 0 END)
                     AS BIGINT)) // 10000 AS l
  FROM b WHERE i >= 9 GROUP BY image_id, (i - 9) // 3
),
m AS (
  SELECT image_id, count(*) AS n, sum(l) AS s1, sum(l*l) AS s2,
         sum(l*l*l) AS s3, sum(l*l*l*l) AS s4
  FROM lum GROUP BY 1
),
c AS (
  SELECT image_id, n,
         CAST(n AS HUGEINT) * s2 - CAST(s1 AS HUGEINT) * s1 AS m2,
         CAST(n AS HUGEINT) * n * s3 - 3 * CAST(n AS HUGEINT) * s1 * s2
           + 2 * CAST(s1 AS HUGEINT) * s1 * s1 AS m3,
         CAST(n AS HUGEINT) * n * n * s4
           - 4 * CAST(n AS HUGEINT) * n * s1 * s3
           + 6 * CAST(n AS HUGEINT) * s1 * s1 * s2
           - 3 * CAST(s1 AS HUGEINT) * s1 * s1 * s1 AS m4
  FROM m
)
SELECT image_id, CAST(n AS BIGINT) AS n_px, CAST(m2 AS BIGINT) AS m2n,
       CASE WHEN m2 != 0
            THEN CAST((1000 * (m3 * m3 + m2 * m2 * m2)) // (m2 * m4)
                      AS BIGINT)
            ELSE NULL END AS bc_milli
FROM c
"""


REGISTRY.update({"image_bimodality": (q_image_bimodality, O_IMAGE_BIMODALITY)})


_REGISTRY_ORDER = list(REGISTRY)
_DRIVER_WINDOW = sorted(
    _REGISTRY_ORDER,
    key=lambda k: (_LAST_SIGNED.get(k, 0), _REGISTRY_ORDER.index(k)),
)[:50]

assert len(_DRIVER_WINDOW) == 50, len(_DRIVER_WINDOW)
_unsigned = [k for k in _REGISTRY_ORDER if k not in _LAST_SIGNED]
assert all(k in _DRIVER_WINDOW for k in _unsigned) or len(_unsigned) > 50, (
    "never-signed queries must lead the window"
)

REGISTRY = {
    **{k: REGISTRY[k] for k in _DRIVER_WINDOW},
    **{k: v for k, v in REGISTRY.items() if k not in set(_DRIVER_WINDOW)}
}
