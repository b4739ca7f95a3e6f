"""Geospatial operators via grid blocking (SURVEY.md §2 [EXT]).

The fixture has no coordinates, so both engines derive
deterministic synthetic lat/lon from entity keys with the same
integer LCG-style expression (exact in int64, identical
cross-engine; the float division by 100 is exact for these
magnitudes).

- **grid-blocked distance join** (``q_geo_grid_join``): customers
  ("stores", a keyed subset) × suppliers ("warehouses") within
  ~111 km. The classic spatial-join-without-an-index shape: each
  store EXPLODES to its lon-widened cell neighborhood of 1°-grid
  cells, the join is EQUI on the cell id, and the exact haversine
  predicate runs only on co-celled candidates. At 100 TB this is
  the same plan — comparisons scale with local density, never
  |A|×|B| (a theta-join on raw distance is a cartesian product).
  The lon neighborhood wraps across the ±180° antimeridian (cell
  −181 ≡ 179) on both engines, so straddling pairs are candidates.
  High-latitude correctness: 1° of longitude is narrower than
  111 km away from the equator, so the lon ring widens per store to
  ``ceil(Δλ_max(lat))`` cells, where Δλ_max inverts the haversine
  at fixed latitude (``2·asin(sin(R/2r)/cos φ)``, φ padded by the
  1° lat band and clamped at 89°) — exact, so the ring is ±1 cell
  at the equator and grows only where geometry demands it
  (±15 cells at the fixture's ±85° extreme). Both engines compute
  the SAME widened semantics; the round(…, 9)-before-ceil absorbs
  libm's last-ulp asin/cos differences (the repo-wide idiom).
  Distances rounded at 4 (transcendental maths differ in the last
  ulp across libm implementations; 1e-4 km = 10 cm absorbs that).
- **cell density** (``q_geo_cell_density``): top-20 densest cells —
  the heat-map / partition-sizing aggregate, pure integer exact.
- **kNN join** (``q_geo_knn``): see its docstring.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tables import table

EARTH_R_KM = 6371.0

#: radius for the distance join (about one grid degree at equator).
RADIUS_KM = 111.0

#: sin(R/2r) — the haversine half-angle of the search radius; a
#: Python-computed literal embedded verbatim in BOTH engines so the
#: lon-ring width derives from the identical constant.
_SIN_HALF_RADIUS = math.sin(RADIUS_KM / (2.0 * EARTH_R_KM))


def _lat(key) -> F.Column:
    return ((key * 9301 + 49297) % 17000) / 100.0 - 85.0


def _lon(key) -> F.Column:
    return ((key * 7927 + 12345) % 36000) / 100.0 - 180.0


def _haversine_km(lat1, lon1, lat2, lon2) -> F.Column:
    dlat = F.radians(lat2 - lat1)
    dlon = F.radians(lon2 - lon1)
    a = (
        F.sin(dlat / 2) * F.sin(dlat / 2)
        + F.cos(F.radians(lat1))
        * F.cos(F.radians(lat2))
        * F.sin(dlon / 2)
        * F.sin(dlon / 2)
    )
    return 2 * EARTH_R_KM * F.asin(F.sqrt(a))


def _lon_halfwidth(lat) -> F.Column:
    """Lon-ring half-width in cells for a store at ``lat``.

    Inverts the haversine at fixed latitude: two points on the
    parallel φ are RADIUS_KM apart when Δλ = 2·asin(sin(R/2r)/cos φ).
    φ is the store's |lat| padded by 1° (targets within RADIUS_KM
    sit at most 111.0/111.19 < 1° of latitude away) and clamped at
    89° (keeps cos positive; the fixture never exceeds ±85°). ceil
    covers the store sitting at a cell edge; round(…, 9) first makes
    the ceil identical across libm implementations."""
    phi = F.radians(F.least(F.abs(lat) + 1.0, F.lit(89.0)))
    dlam = F.degrees(2.0 * F.asin(F.lit(_SIN_HALF_RADIUS) / F.cos(phi)))
    return F.ceil(F.round(dlam, 9)).cast("int")


def _stores(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer").where(F.col("c_custkey") % 50 == 0)
    k = F.col("c_custkey")
    return c.select(
        F.col("c_custkey").alias("store_id"),
        _lat(k).alias("lat"),
        _lon(k).alias("lon"),
    )


def _warehouses(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = table(spark, sf_dir, "supplier")
    k = F.col("s_suppkey")
    return s.select(
        F.col("s_suppkey").alias("wh_id"),
        _lat(k).alias("lat"),
        _lon(k).alias("lon"),
    )


def _grid_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared candidate generation for the grid join and the kNN:
    store side explodes to its ±1-lat × lat-adaptive-lon cell
    neighborhood (lon wrapped across the antimeridian: cell −181 is
    cell 179, and sin²(Δlon/2) is 360°-periodic so the haversine
    needs no companion fix); warehouse side keeps its own cell; the
    join is EQUI on (cx, cy) with the exact rounded haversine
    computed only on co-celled pairs."""
    st = _stores(spark, sf_dir)
    wh = _warehouses(spark, sf_dir)
    w = _lon_halfwidth(F.col("lat"))
    st = st.select(
        "store_id",
        "lat",
        "lon",
        F.explode(
            F.sequence(
                F.floor("lat").cast("int") - 1,
                F.floor("lat").cast("int") + 1,
            )
        ).alias("cx"),
    ).select(
        "store_id",
        "lat",
        "lon",
        "cx",
        F.explode(
            F.array_distinct(
                F.transform(
                    F.sequence(
                        F.floor("lon").cast("int") - w,
                        F.floor("lon").cast("int") + w,
                    ),
                    lambda c: F.pmod(c + 180, 360) - 180,
                )
            )
        ).alias("cy"),
    )
    wh = wh.select(
        F.col("wh_id"),
        F.col("lat").alias("wlat"),
        F.col("lon").alias("wlon"),
        F.floor("lat").cast("int").alias("cx"),
        F.floor("lon").cast("int").alias("cy"),
    )
    d = _haversine_km(F.col("lat"), F.col("lon"), F.col("wlat"), F.col("wlon"))
    return st.join(wh, ["cx", "cy"]).select(
        "store_id", "wh_id", F.round(d, 4).alias("dist_km")
    )


def q_geo_grid_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stores × warehouses within RADIUS_KM, via 1°-grid blocking
    with the lat-adaptive lon ring (see module docstring)."""
    return _grid_candidates(spark, sf_dir).where(
        F.col("dist_km") <= RADIUS_KM
    )


def q_geo_cell_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 densest 1° cells over ALL customers (not the store
    subset): one projection + hash agg + TakeOrderedAndProject."""
    c = table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    cells = c.select(
        F.floor(_lat(k)).cast("bigint").alias("cx"),
        F.floor(_lon(k)).cast("bigint").alias("cy"),
    )
    return (
        cells.groupBy("cx", "cy")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "cx", "cy")
        .limit(20)
    )


#: neighbors returned per store by the grid-blocked kNN.
KNN_K = 3


def q_geo_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-blocked k-nearest-neighbor join: each store's 3 nearest
    warehouses among its cell neighborhood — the spatial
    serving-assignment primitive (nearest depot / store coverage).

    Same candidate generation as ``q_geo_grid_join`` (explode to the
    wrapped, lat-adaptively-widened neighborhood, EQUI join on the
    cell — never |A|×|B|), then a per-store row_number over (rounded
    distance, wh_id): the rounding absorbs libm's last-ulp
    transcendental differences and the id tie-break makes the cut a
    total order, so both engines pick identical neighbors. Stores
    whose neighborhood holds fewer than k candidates return fewer
    rows — the stated blocked semantics (production systems expand
    rings until k; the fixture density makes that loop unnecessary
    here). The ranking window partitions by store_id — no global
    sort; cost scales with local density exactly like the grid
    join."""
    from pyspark.sql import Window

    cand = _grid_candidates(spark, sf_dir)
    w = Window.partitionBy("store_id").orderBy("dist_km", "wh_id")
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= KNN_K)
        .select("store_id", "wh_id", "dist_km", F.col("rn").alias("rank"))
    )


# --- grid-DBSCAN -----------------------------------------------------

#: DBSCAN radius; the grid cell width equals eps so the 3x3 cell
#: neighborhood is a complete candidate superset of every eps-ball.
DBSCAN_EPS = 0.5
#: core threshold: |N_eps(p)| >= minPts, SELF INCLUDED (the classic
#: Ester et al. 1996 convention).
DBSCAN_MINPTS = 8
#: md5-prefix uniform denominator: 15 hex chars = 60 bits.
_U60 = float(1 << 60)
#: mixture centers for the derived substrate (see q_geo_dbscan).
_DBSCAN_CX = (0.0, 10.0, 0.0, 10.0, 5.0)
_DBSCAN_CY = (0.0, 0.0, 10.0, 10.0, 5.0)


def _dbscan_u(key, salt: str) -> F.Column:
    """md5-prefix uniform in [0, 1) — the repo's hash-certifiable
    randomness idiom (identical in DuckDB via the same substr/conv
    arithmetic)."""
    return (
        F.conv(
            F.substring(F.md5(F.concat(key.cast("string"), F.lit(f":{salt}"))), 1, 15),
            16,
            10,
        ).cast("long")
        / F.lit(_U60)
    )


def _dbscan_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic NON-LATTICE 2D substrate keyed on vec_id: a
    5-center mixture (unit-square blobs, centers 10 apart) plus a
    sparse uniform noise population (every 19th key scattered over
    [-3, 13]^2). Both prior substrates failed the density-clustering
    probe — the LCG lat/lon is a lattice (SCALE.md r10) and the
    fixture embeddings are isotropic (within-label distance ==
    cross-label distance == sqrt(2); probed r11) — so the substrate
    is CONSTRUCTED from fixture keys with the md5-uniform idiom:
    continuous, pseudo-random, identical cross-engine, and with
    genuine density structure (probed: 5 components, core+border+
    noise all populated at every sf). Coordinates round to 6dp so
    every downstream comparison is on identical doubles."""
    e = table(spark, sf_dir, "embeddings").select("vec_id")
    noise = F.col("vec_id") % 19 == 0
    ux, uy = _dbscan_u(F.col("vec_id"), "x"), _dbscan_u(F.col("vec_id"), "y")
    c = (F.col("vec_id") % 5 + 1).cast("int")
    cx = F.element_at(F.array(*[F.lit(v) for v in _DBSCAN_CX]), c)
    cy = F.element_at(F.array(*[F.lit(v) for v in _DBSCAN_CY]), c)
    return e.select(
        "vec_id",
        F.round(F.when(noise, -3 + 16 * ux).otherwise(cx + 2 * ux - 1), 6).alias("x"),
        F.round(F.when(noise, -3 + 16 * uy).otherwise(cy + 2 * uy - 1), 6).alias("y"),
    )


def q_geo_dbscan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-blocked DBSCAN (Ester et al. 1996), oracle-certified end
    to end — the density-clustering op the r9/r10 verdicts asked for,
    finally on a substrate where clustering is real (see
    :func:`_dbscan_points`). Output: (vec_id, x, y, role, cluster_id)
    with role in {core, border, noise}; cluster_id = the min vec_id
    among the component's CORE members (NULL for noise).

    Scale shape — every stage is the bucketed pattern, never
    all-pairs:
    - cell = floor(coord / eps): each point explodes to its 3x3 cell
      neighborhood (x9 rows) and neighbor candidates come from an
      EQUI join on the cell id; the exact d^2 <= eps^2 predicate runs
      on co-celled candidates only, so comparisons scale with local
      density (the q_geo_grid_join contract).
    - degree/core: one hash agg over neighbor pairs.
    - components: :func:`graph.components` over the CORE-CORE edges
      only (border points never enter — DBSCAN's density-connectivity
      is defined through cores); cluster_id is the component-min core
      vec_id. At fixture scale the core graph (a few thousand pairs)
      is collected once and finished on the driver, so the blobs'
      ~10-hop diameter costs no Spark job per hop; above the driver
      gate, star rounds contract it in O(log n) rounds.
    - border: non-core points adopt min(cluster) over their core
      neighbors — one join + agg; ties broken by the min, so the
      assignment is deterministic in both engines.
    Oracle: identical pipeline in DuckDB, components via a
    recursive CTE with the `label < node` pruning guard (the min
    label of a component provably reaches every member since every
    other member is larger). Oracle scale note: the reachability
    CTE is O(|component|^2 x degree) — seconds at the sf0.01 cert
    gate, prohibitive at sf1+ (DuckDB 1.0 has no USING KEY
    recursive CTE); large-scale verification is the NumPy replica
    pin (sf0.001 and sf1, exact equality — SCALE.md r11)."""
    from pyspark import StorageLevel

    from .graph import components

    eps2 = DBSCAN_EPS * DBSCAN_EPS
    pts = _dbscan_points(spark, sf_dir)
    cell = pts.select(
        "vec_id",
        "x",
        "y",
        F.floor(F.col("x") / DBSCAN_EPS).alias("cx"),
        F.floor(F.col("y") / DBSCAN_EPS).alias("cy"),
    )
    d = F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1)))
    ex = (
        cell.withColumn("dx", d)
        .withColumn("dy", d)
        .select(
            F.col("vec_id").alias("a"),
            F.col("x").alias("ax"),
            F.col("y").alias("ay"),
            (F.col("cx") + F.col("dx")).alias("ncx"),
            (F.col("cy") + F.col("dy")).alias("ncy"),
        )
    )
    other = cell.select(
        F.col("vec_id").alias("b"),
        F.col("x").alias("bx"),
        F.col("y").alias("by"),
        F.col("cx").alias("ncx"),
        F.col("cy").alias("ncy"),
    )
    d2 = (F.col("ax") - F.col("bx")) ** 2 + (F.col("ay") - F.col("by")) ** 2
    nb = (
        ex.join(other, ["ncx", "ncy"])
        .filter(d2 <= F.lit(eps2))
        .select("a", "b")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    deg = nb.groupBy("a").agg(F.count(F.lit(1)).alias("n_neigh"))
    core = deg.filter(F.col("n_neigh") >= DBSCAN_MINPTS).select(
        F.col("a").alias("vec_id")
    )
    ca = core.select(F.col("vec_id").alias("a"))
    cb = core.select(F.col("vec_id").alias("b"))
    # every core has its self-edge (d = 0), so every core is a node
    edges = nb.join(ca, "a").join(cb, "b").select(
        F.col("a").alias("u"), F.col("b").alias("v")
    )
    cc = components(edges, caller="q_geo_dbscan").select(
        F.col("node").alias("vec_id"), F.col("cluster_id").alias("cl")
    )
    border = (
        nb.join(cc.select(F.col("vec_id").alias("b"), "cl"), "b")
        .join(core.select(F.col("vec_id").alias("a")), "a", "left_anti")
        .groupBy("a")
        .agg(F.min("cl").alias("cl"))
        .select(F.col("a").alias("vec_id"), "cl")
    )
    out = (
        pts.join(cc.withColumnRenamed("cl", "core_cl"), "vec_id", "left")
        .join(border.withColumnRenamed("cl", "border_cl"), "vec_id", "left")
        .select(
            "vec_id",
            "x",
            "y",
            F.when(F.col("core_cl").isNotNull(), F.lit("core"))
            .when(F.col("border_cl").isNotNull(), F.lit("border"))
            .otherwise(F.lit("noise"))
            .alias("role"),
            F.coalesce("core_cl", "border_cl").alias("cluster_id"),
        )
    )
    return out


QUERIES = {
    "q_geo_grid_join": q_geo_grid_join,
    "q_geo_cell_density": q_geo_cell_density,
    "q_geo_knn": q_geo_knn,
    "q_geo_dbscan": q_geo_dbscan,
}


def _sql_lat(k: str) -> str:
    return f"((({k} * 9301 + 49297) % 17000) / 100.0 - 85.0)"


def _sql_lon(k: str) -> str:
    return f"((({k} * 7927 + 12345) % 36000) / 100.0 - 180.0)"


_ST_LAT = _sql_lat("c_custkey")
_ST_LON = _sql_lon("c_custkey")
_WH_LAT = _sql_lat("s_suppkey")
_WH_LON = _sql_lon("s_suppkey")

_HAV = (
    f"2 * {EARTH_R_KM} * asin(sqrt("
    "sin(radians(wlat - lat) / 2) * sin(radians(wlat - lat) / 2) "
    "+ cos(radians(lat)) * cos(radians(wlat)) "
    "* sin(radians(wlon - lon) / 2) * sin(radians(wlon - lon) / 2)))"
)

# lon-ring half-width — the identical formula (and identical float
# literal for sin(R/2r)) as _lon_halfwidth above.
_SQL_W = (
    "CAST(ceil(round(degrees(2 * asin("
    f"{_SIN_HALF_RADIUS!r} / cos(radians(least(abs(lat) + 1.0, 89.0)))"
    ")), 9)) AS INT)"
)

# cyclic lon-cell distance between warehouse and store cells, in
# [0, 180]; the widened-band membership test is `<= W`.
_CELL_DIFF = "((floor(wlon)::INT - floor(lon)::INT + 720) % 360)"

# shared candidate-generation CTE chain (stores, warehouses, the
# blocked join) — the oracle twin of _grid_candidates.
_SQL_CAND = (
    f"st AS (SELECT c_custkey AS store_id, {_ST_LAT} AS lat, "
    f"{_ST_LON} AS lon FROM customer WHERE c_custkey % 50 = 0), "
    f"wh AS (SELECT s_suppkey AS wh_id, {_WH_LAT} AS wlat, "
    f"{_WH_LON} AS wlon FROM supplier), "
    f"cand AS (SELECT store_id, wh_id, round({_HAV}, 4) AS dist_km "
    "  FROM st JOIN wh ON floor(wlat) BETWEEN floor(lat) - 1 "
    "  AND floor(lat) + 1 "
    f"  AND least({_CELL_DIFF}, 360 - {_CELL_DIFF}) <= {_SQL_W})"
)

def _dbscan_sql() -> str:
    """DuckDB mirror of q_geo_dbscan: same md5-uniform substrate,
    same grid join, components via a pruned recursive CTE."""
    eps, eps2, mp = DBSCAN_EPS, DBSCAN_EPS * DBSCAN_EPS, DBSCAN_MINPTS
    u60 = int(_U60)

    def u(salt: str) -> str:
        return (
            f"((('0x' || substr(md5(vec_id::VARCHAR || ':{salt}'), 1, 15))"
            f"::UBIGINT)::DOUBLE / {u60})"
        )

    cx = "[" + ",".join(str(v) for v in _DBSCAN_CX) + "]"
    cy = "[" + ",".join(str(v) for v in _DBSCAN_CY) + "]"
    return (
        "WITH pts AS (SELECT vec_id, "
        f"round(CASE WHEN vec_id % 19 = 0 THEN -3 + 16 * {u('x')} "
        f"ELSE {cx}[(vec_id % 5 + 1)::INT] + 2 * {u('x')} - 1 END, 6) AS x, "
        f"round(CASE WHEN vec_id % 19 = 0 THEN -3 + 16 * {u('y')} "
        f"ELSE {cy}[(vec_id % 5 + 1)::INT] + 2 * {u('y')} - 1 END, 6) AS y "
        "FROM embeddings), "
        f"c AS (SELECT vec_id, x, y, floor(x / {eps})::BIGINT AS cx, "
        f"floor(y / {eps})::BIGINT AS cy FROM pts), "
        "ex AS (SELECT c.vec_id, c.x, c.y, c.cx + dx.d AS ncx, "
        "c.cy + dy.d AS ncy FROM c, "
        "(SELECT unnest([-1,0,1]) AS d) dx, "
        "(SELECT unnest([-1,0,1]) AS d) dy), "
        "nb AS (SELECT ex.vec_id AS a, c2.vec_id AS b "
        "FROM ex JOIN c c2 ON c2.cx = ex.ncx AND c2.cy = ex.ncy "
        "WHERE (ex.x - c2.x)*(ex.x - c2.x) + (ex.y - c2.y)*(ex.y - c2.y) "
        f"<= {eps2}), "
        "deg AS (SELECT a AS vec_id, count(*) AS n_neigh FROM nb GROUP BY a), "
        f"core AS (SELECT vec_id FROM deg WHERE n_neigh >= {mp}), "
        "ce AS (SELECT nb.a, nb.b FROM nb "
        "JOIN core ca ON ca.vec_id = nb.a JOIN core cb ON cb.vec_id = nb.b), "
        "cc AS (WITH RECURSIVE r(node, label) AS ("
        "  SELECT vec_id, vec_id FROM core "
        "  UNION "
        "  SELECT ce.b, r.label FROM r JOIN ce ON ce.a = r.node "
        "  WHERE r.label < ce.b) "
        "SELECT node, min(label) AS cl FROM r GROUP BY node), "
        "border AS (SELECT nb.a AS vec_id, min(cc.cl) AS cl "
        "FROM nb JOIN cc ON cc.node = nb.b "
        "WHERE nb.a NOT IN (SELECT vec_id FROM core) GROUP BY nb.a) "
        "SELECT pts.vec_id, pts.x, pts.y, "
        "CASE WHEN k.cl IS NOT NULL THEN 'core' "
        "WHEN b.cl IS NOT NULL THEN 'border' ELSE 'noise' END AS role, "
        "coalesce(k.cl, b.cl)::BIGINT AS cluster_id "
        "FROM pts LEFT JOIN cc k ON k.node = pts.vec_id "
        "LEFT JOIN border b ON b.vec_id = pts.vec_id"
    )


ORACLE = {
    "q_geo_dbscan": _dbscan_sql(),
    "q_geo_grid_join": (
        f"WITH {_SQL_CAND} "
        f"SELECT store_id, wh_id, dist_km FROM cand "
        f"WHERE dist_km <= {RADIUS_KM}"
    ),
    "q_geo_cell_density": (
        f"SELECT floor({_ST_LAT})::BIGINT AS cx, "
        f"floor({_ST_LON})::BIGINT AS cy, "
        "count(*) AS n FROM customer GROUP BY cx, cy "
        "ORDER BY n DESC, cx, cy LIMIT 20"
    ),
    "q_geo_knn": (
        f"WITH {_SQL_CAND}, "
        "r AS (SELECT *, row_number() OVER ("
        "  PARTITION BY store_id ORDER BY dist_km, wh_id) AS rn FROM cand) "
        f"SELECT store_id, wh_id, dist_km, rn AS rank FROM r WHERE rn <= {KNN_K}"
    ),
}
