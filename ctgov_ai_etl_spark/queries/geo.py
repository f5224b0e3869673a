"""Geospatial queries: geohash pyramid rollups, grid-bucketed
epsilon-joins, and geofence transition detection (batch + streaming
twin).

All pure JVM bit-algebra / equality shuffles — the epsilon-join maps
each point to its 3x3 neighbor cells so every matching pair meets in
exactly ONE bucket (no cartesian, no post-dedup); the geohash encoder
is shared-dialect SQL generated once and run verbatim on both
engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W  # noqa: F401

from pyspark.sql import functions as F

from ctgov_ai_etl_spark.functions.exact import cents, fdiv, sql_fdiv  # noqa: F401
from ctgov_ai_etl_spark.operators.sketches import portable_hash60  # noqa: F401
from ctgov_ai_etl_spark.queries.registry import query
from ctgov_ai_etl_spark.tables import load_table, stream_table

_US_PER_DAY = 86_400_000_000



# ----------------------------------------------------- geospatial
#
# The tables carry no coordinates, so points derive deterministically
# from md5 (portable_hash60 == DuckDB's ('0x'||substr(md5..))::BIGINT)
# in integer MICRO-DEGREES — the exactness convention for coordinates:
# lat in [-90e6, 90e6), lng in [-180e6, 180e6), all cell math exact
# integer floor division on the shifted non-negative domain.

_GEO_ALPHABET = "0123456789bcdefghjkmnpqrstuvwxyz"


def _geohash5_expr(lat_cell: str, lng_cell: str) -> str:
    """Standard 5-character geohash from 12-bit lat / 13-bit lng cell
    ids, as ONE SQL expression string parsed identically by Spark SQL
    and DuckDB (only `>>`, `&`, `*`, `+`, substr, `||` — constants
    keep every shift in 0..24 so engine shift-wrap semantics never
    diverge).  Geohash interleaves bits lng-first, MSB-first
    (public algorithm; en.wikipedia.org/wiki/Geohash)."""
    terms = []
    for i in range(25):  # bit position i (MSB first) of the 25-bit code
        if i % 2 == 0:
            src, bit = lng_cell, 12 - i // 2
        else:
            src, bit = lat_cell, 11 - (i - 1) // 2
        terms.append(f"(({src} >> {bit}) & 1) * {1 << (24 - i)}")
    gi = "(" + " + ".join(terms) + ")"
    chars = [
        f"substr('{_GEO_ALPHABET}', (({gi} >> {5 * (4 - c)}) & 31) + 1, 1)"
        for c in range(5)
    ]
    return " || ".join(chars)


_GEO_PTS_SQL = """
      SELECT c_custkey AS k,
             CAST(('0x' || substring(md5('lat:' || CAST(c_custkey AS VARCHAR)), 1, 15))
                  AS BIGINT) % 180000000 - 90000000 AS lat,
             CAST(('0x' || substring(md5('lng:' || CAST(c_custkey AS VARCHAR)), 1, 15))
                  AS BIGINT) % 360000000 - 180000000 AS lng,
             CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
      FROM customer
"""


def _geo_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    lat = (
        F.pmod(
            portable_hash60(F.col("c_custkey"), salt="lat"),
            F.lit(180_000_000),
        )
        - 90_000_000
    )
    lng = (
        F.pmod(
            portable_hash60(F.col("c_custkey"), salt="lng"),
            F.lit(360_000_000),
        )
        - 180_000_000
    )
    return c.select(
        F.col("c_custkey").alias("k"),
        lat.alias("lat"),
        lng.alias("lng"),
        cents("c_acctbal").alias("bal_cents"),
    )


@query(
    "geo_grid_rollup",
    oracle=f"""
    WITH pts AS ({_GEO_PTS_SQL}),
    cells AS (
      SELECT k, bal_cents,
             {sql_fdiv('(lat + 90000000) * 4096', '180000000')} AS lat_cell,
             {sql_fdiv('(lng + 180000000) * 8192', '360000000')} AS lng_cell
      FROM pts
    ),
    gh AS (
      SELECT k, bal_cents,
             {_geohash5_expr('lat_cell', 'lng_cell')} AS geohash5
      FROM cells
    )
    SELECT CAST(lvl AS INT) AS zoom,
           substr(geohash5, 1, lvl) AS cell,
           CAST(count(*) AS BIGINT) AS n_points,
           CAST(sum(bal_cents) AS BIGINT) AS bal_cents
    FROM gh CROSS JOIN (SELECT unnest([1, 2, 3]) AS lvl)
    GROUP BY lvl, substr(geohash5, 1, lvl)
    HAVING count(*) > 1
    """,
)
def geo_grid_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical geospatial rollup on GEOHASH prefixes: encode
    every point to a 5-char geohash (pure integer bit-interleave +
    base32 — the SAME generated SQL expression runs on both engines,
    so the encoding is identical by construction), then aggregate
    point count + balance at zoom levels 1-3 via prefix truncation —
    the tile-pyramid pattern every map dashboard needs.  One explode
    (3x fanout) + one partial-aggregated shuffle on the prefix; the
    geohash itself is map-side scalar math, no UDF, no shuffle.
    Prefix aggregation scales to 100 TB because coarser zooms are
    strict prefixes of finer ones — a single pass serves the whole
    pyramid."""
    pts = _geo_points(spark, sf_dir)
    cells = pts.select(
        "k",
        "bal_cents",
        fdiv((F.col("lat") + 90_000_000) * 4096, F.lit(180_000_000)).alias(
            "lat_cell"
        ),
        fdiv((F.col("lng") + 180_000_000) * 8192, F.lit(360_000_000)).alias(
            "lng_cell"
        ),
    )
    gh = cells.select(
        "bal_cents",
        F.expr(_geohash5_expr("lat_cell", "lng_cell")).alias("geohash5"),
    )
    lvls = F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("lvl")
    return (
        gh.select("bal_cents", "geohash5", lvls)
        .groupBy(
            F.col("lvl").cast("int").alias("zoom"),
            F.expr("substr(geohash5, 1, lvl)").alias("cell"),
        )
        .agg(
            F.count("*").cast("long").alias("n_points"),
            F.sum("bal_cents").cast("long").alias("bal_cents"),
        )
        .filter(F.col("n_points") > 1)
    )


_GEO_EPS = 2_000_000  # 2-degree Chebyshev radius, micro-degrees


@query(
    "geo_geohash_join",
    oracle=f"""
    WITH pts AS ({_GEO_PTS_SQL}),
    capped AS (SELECT * FROM pts WHERE k <= 2000)
    SELECT a.k AS a, b.k AS b,
           CAST(greatest(abs(a.lat - b.lat), abs(a.lng - b.lng))
                AS BIGINT) AS cheb_micro
    FROM capped a JOIN capped b
      ON a.k < b.k
     AND b.lat BETWEEN a.lat - {_GEO_EPS} AND a.lat + {_GEO_EPS}
     AND b.lng BETWEEN a.lng - {_GEO_EPS} AND a.lng + {_GEO_EPS}
    """,
)
def geo_geohash_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial epsilon-join (all point pairs within a 2-degree
    Chebyshev radius) via GRID BUCKETING, the scalable spatial-join
    pattern: each point lands in one eps-sized cell; the LEFT side
    fans out to its 3x3 cell neighborhood (explode, 9x) and the join
    is a plain EQUALITY shuffle join on the cell id — no cross join
    anywhere — followed by the exact integer distance filter.  Each
    qualifying pair matches in EXACTLY one bucket (the right point's
    home cell), so no dedup pass is needed.  The oracle replays the
    predicate declaratively (DuckDB's IEJoin); the engine's plan is
    the one that survives 100 TB — shuffle on cell keys, fanout
    bounded at 9x, skew bounded by eps-cell density.  The k-cap
    keeps the sampled slice driver-comparable; the plan is
    cap-independent."""
    pts = _geo_points(spark, sf_dir).filter(F.col("k") <= 2000)
    cell_y = fdiv(F.col("lat") + 90_000_000, F.lit(_GEO_EPS))
    cell_x = fdiv(F.col("lng") + 180_000_000, F.lit(_GEO_EPS))
    right = pts.select(
        F.col("k").alias("b_k"),
        F.col("lat").alias("b_lat"),
        F.col("lng").alias("b_lng"),
        cell_y.alias("cy"),
        cell_x.alias("cx"),
    )
    offs = F.explode(
        F.array(
            *[
                F.struct(F.lit(dy).alias("dy"), F.lit(dx).alias("dx"))
                for dy in (-1, 0, 1)
                for dx in (-1, 0, 1)
            ]
        )
    ).alias("o")
    left = pts.select(
        F.col("k").alias("a_k"),
        F.col("lat").alias("a_lat"),
        F.col("lng").alias("a_lng"),
        cell_y.alias("ay"),
        cell_x.alias("ax"),
        offs,
    ).select(
        "a_k",
        "a_lat",
        "a_lng",
        (F.col("ay") + F.col("o.dy")).alias("cy"),
        (F.col("ax") + F.col("o.dx")).alias("cx"),
    )
    pairs = left.join(right, ["cy", "cx"]).filter(
        (F.col("a_k") < F.col("b_k"))
        & (F.abs(F.col("a_lat") - F.col("b_lat")) <= _GEO_EPS)
        & (F.abs(F.col("a_lng") - F.col("b_lng")) <= _GEO_EPS)
    )
    return pairs.select(
        F.col("a_k").alias("a"),
        F.col("b_k").alias("b"),
        F.greatest(
            F.abs(F.col("a_lat") - F.col("b_lat")),
            F.abs(F.col("a_lng") - F.col("b_lng")),
        )
        .cast("long")
        .alias("cheb_micro"),
    )


@query(
    "geo_fence_transitions",
    oracle="""
    WITH pos AS (
      SELECT user_id, event_id, ts,
             CAST(('0x' || substring(md5('tx:' || CAST(user_id AS VARCHAR)
                     || ':' || CAST(epoch_us(ts) // 86400000000 AS VARCHAR)),
                     1, 15)) AS BIGINT) % 16 AS tile_x,
             CAST(('0x' || substring(md5('ty:' || CAST(user_id AS VARCHAR)
                     || ':' || CAST(epoch_us(ts) // 86400000000 AS VARCHAR)),
                     1, 15)) AS BIGINT) % 16 AS tile_y
      FROM events WHERE ts IS NOT NULL
    ),
    seq AS (
      SELECT user_id, event_id, ts,
             tile_x * 16 + tile_y AS tile,
             lag(tile_x * 16 + tile_y) OVER
               (PARTITION BY user_id ORDER BY ts, event_id) AS prev_tile
      FROM pos
    )
    SELECT user_id, event_id,
           CAST(epoch_us(ts) AS BIGINT) AS ts_us,
           CAST(prev_tile AS INT) AS from_tile,
           CAST(tile AS INT) AS to_tile
    FROM seq
    WHERE prev_tile IS NOT NULL AND prev_tile <> tile
    """,
)
def geo_fence_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geofence transition detection: each user's daily position
    (md5-derived 16x16 tile — users dwell in one tile per day, so
    transitions cluster at day boundaries) is compared with the
    previous event's tile via lag() and a boundary-crossing event is
    emitted whenever the tile changes — the enter/exit stream a
    location-alerting pipeline needs.  One window shuffle on user_id
    with the (ts, event_id) unique ordering; everything else is
    map-side scalar math.  At 100 TB this is the same shape as
    sessionization: per-key ordered state, no global sort."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    day = fdiv(F.unix_micros("ts"), F.lit(_US_PER_DAY)).cast("string")
    key = F.concat(F.col("user_id").cast("string"), F.lit(":"), day)
    tile = (
        F.pmod(portable_hash60(key, salt="tx"), F.lit(16)) * 16
        + F.pmod(portable_hash60(key, salt="ty"), F.lit(16))
    ).alias("tile")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select("user_id", "event_id", "ts", tile).select(
        "user_id",
        "event_id",
        "ts",
        "tile",
        F.lag("tile").over(w).alias("prev_tile"),
    )
    return seq.filter(
        F.col("prev_tile").isNotNull() & (F.col("prev_tile") != F.col("tile"))
    ).select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        F.col("prev_tile").cast("int").alias("from_tile"),
        F.col("tile").cast("int").alias("to_tile"),
    )


# -------------------------------------- streaming geofence twin

from ctgov_ai_etl_spark.queries.registry import REGISTRY as _REG  # noqa: E402


@query(
    "stream_run_geo_fence",
    oracle=_REG["geo_fence_transitions"].oracle,
)
def stream_run_geo_fence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACTUAL STREAMING geofence alerting: file micro-batch source →
    stateful per-user tile tracker
    (streaming/events.py:stateful_geo_fence, applyInPandasWithState —
    state is two ints per user) → APPEND-mode memory sink.  Each tile
    change emits exactly one alert row in the batch where it happens,
    and the union over batches hash-checks against the SAME oracle as
    the batch lag() twin (geo_fence_transitions) — the alert stream a
    dashboard sees live equals the offline replay.  Bounded state,
    bounded output per batch: the geofence monitor a 100 TB/day
    location pipeline actually runs."""
    from ctgov_ai_etl_spark.streaming.events import (
        run_stream_to_memory,
        stateful_geo_fence,
    )

    out = run_stream_to_memory(
        stateful_geo_fence(stream_table(spark, sf_dir, "events")),
        mode="append",
    )
    return out.select(
        "user_id", "event_id", "ts_us", "from_tile", "to_tile"
    )


# ----------------------------------------------- point-in-polygon
#
# Ray-casting containment with EXACT integer arithmetic: the
# horizontal-ray crossing test `px < x1 + (py-y1)(x2-x1)/(y2-y1)`
# is restated as a cross-product sign test (multiply through by the
# edge's dy, flipping the inequality when dy < 0 — dy's sign is
# pinned by the half-open vertex rule), so containment is pure int64
# compare/multiply: bit-identical across engines, no epsilon, and
# the half-open `y1 <= py < y2` rule gives shared vertices to
# exactly one edge (the standard robust formulation, e.g. PNPOLY).
# Coordinate products stay under ~1.3e17 << 2^63 (micro-degrees).

_POLYGONS = {
    # (lng, lat) vertex rings in integer micro-degrees; both rings
    # verified simple (no self-intersection) in tests.
    "atlantic_quad": (
        (-60_000_000, -30_000_000),
        (20_000_000, -40_000_000),
        (30_000_000, 45_000_000),
        (-50_000_000, 50_000_000),
    ),
    "pacific_wedge": (
        (120_000_000, -20_000_000),
        (170_000_000, -35_000_000),
        (160_000_000, 30_000_000),
        (140_000_000, 0),
        (125_000_000, 25_000_000),
    ),
}


def _crossings_expr(px: str, py: str, ring) -> str:
    """Odd/even crossing count of the +x horizontal ray from
    (px, py) against the polygon ring, as ONE shared-dialect SQL
    expression (only integer compares and multiplies — parsed
    identically by Spark SQL and DuckDB)."""
    terms = []
    n = len(ring)
    for i in range(n):
        x1, y1 = ring[i]
        x2, y2 = ring[(i + 1) % n]
        if y1 == y2:
            continue  # horizontal edge: never crosses a horizontal ray
        lhs = f"(({px}) - ({x1})) * ({y2 - y1})"
        rhs = f"(({py}) - ({y1})) * ({x2 - x1})"
        if y1 < y2:  # upward edge: half-open [y1, y2)
            cond = (
                f"({y1}) <= ({py}) AND ({py}) < ({y2}) AND {lhs} < {rhs}"
            )
        else:  # downward edge: half-open [y2, y1); dy < 0 flips <
            cond = (
                f"({y2}) <= ({py}) AND ({py}) < ({y1}) AND {lhs} > {rhs}"
            )
        terms.append(f"(CASE WHEN {cond} THEN 1 ELSE 0 END)")
    return "(" + " + ".join(terms) + ")"


def _polygon_oracle() -> str:
    arms = []
    for name, ring in _POLYGONS.items():
        arms.append(f"""
    SELECT '{name}' AS polygon,
           CAST(count(*) AS BIGINT) AS n_inside,
           CAST(sum(bal_cents) AS BIGINT) AS bal_cents
    FROM pts
    WHERE {_crossings_expr('lng', 'lat', ring)} % 2 = 1""")
    return (
        f"WITH pts AS ({_GEO_PTS_SQL})" + "\nUNION ALL\n".join(arms)
    )


@query("geo_polygon_contains", oracle=_polygon_oracle())
def geo_polygon_contains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-polygon rollup: customer points (micro-degree hash
    coordinates) tested against two literal polygon fences (convex
    quad + concave pentagon) by exact-integer ray casting; per
    polygon, the contained count and balance mass.

    Scale shape: the polygons are PLAN LITERALS — containment is a
    map-side codegen'd integer expression (per point: one
    compare/multiply per edge), and each polygon's verdict stacks
    into one (polygon, point) frame via a bounded literal explode,
    so the whole query is one scan + one 2-row partial-agg shuffle.
    No join, no UDF, no geometry library; a real GIS would swap the
    literal ring for a broadcast polygon table with a bounding-box
    grid prefilter (the geo_geohash_join cell trick) before the
    exact test."""
    pts = _geo_points(spark, sf_dir)
    arms = [
        F.struct(
            F.lit(name).alias("polygon"),
            F.expr(_crossings_expr("lng", "lat", ring)).alias("nc"),
        )
        for name, ring in _POLYGONS.items()
    ]
    stacked = pts.select(
        "bal_cents", F.explode(F.array(*arms)).alias("x")
    ).select("bal_cents", "x.polygon", "x.nc")
    return (
        stacked.filter(F.col("nc") % 2 == 1)
        .groupBy("polygon")
        .agg(
            F.count("*").cast("long").alias("n_inside"),
            F.sum("bal_cents").cast("long").alias("bal_cents"),
        )
    )


# --------------------------------------------------- grid DBSCAN
#
# Density clustering at spatial-join scale: DBSCAN restated as three
# operators the engine already scales — the 9-cell grid epsilon-join
# (candidate pairs meet in exactly one bucket), a degree count
# (core test), and min-label connected components over the CORE
# subgraph — with the deterministic border rule "join the minimum
# neighboring core component" making the classic border ambiguity
# bit-replayable.  All geometry is exact int64 (squared Euclidean
# distance in micro-degrees).

_DBSCAN_EPS = 8_000_000  # 8 degrees in micro-degrees
_DBSCAN_MINPTS = 4  # neighbors + self
# Pinned point sample (the geo_geohash_join convention): keeps the
# clustered slice — and the oracle's recursive-CTE closure, whose
# reach table is quadratic in component size — SF-invariant.  The
# PLAN is cap-independent; at 10x density the same eps would grow a
# giant component and the replay (not the engine) is the bound.
_DBSCAN_CAP = 2_000


def _dbscan_pairs_sql() -> str:
    e2 = _DBSCAN_EPS * _DBSCAN_EPS
    return f"""
    pairs AS (
      SELECT a.k AS ka, b.k AS kb
      FROM pts a JOIN pts b
        ON a.k < b.k
       AND b.lat BETWEEN a.lat - {_DBSCAN_EPS} AND a.lat + {_DBSCAN_EPS}
       AND b.lng BETWEEN a.lng - {_DBSCAN_EPS} AND a.lng + {_DBSCAN_EPS}
       AND (a.lat - b.lat) * (a.lat - b.lat)
           + (a.lng - b.lng) * (a.lng - b.lng) <= {e2}
    )"""


@query(
    "cluster_dbscan_grid",
    oracle=f"""
    WITH RECURSIVE pts0 AS ({_GEO_PTS_SQL}),
    pts AS (SELECT * FROM pts0 WHERE k <= {_DBSCAN_CAP}),
    {_dbscan_pairs_sql().strip()},
    halves AS (
      SELECT ka AS k, kb AS nbr FROM pairs
      UNION ALL
      SELECT kb, ka FROM pairs
    ),
    deg AS (
      SELECT p.k, CAST(count(h.nbr) AS BIGINT) AS n_neighbors
      FROM pts p LEFT JOIN halves h ON h.k = p.k
      GROUP BY p.k
    ),
    core AS (SELECT k FROM deg WHERE n_neighbors + 1 >= {_DBSCAN_MINPTS}),
    core_edges AS (
      SELECT h.k AS src, h.nbr AS dst FROM halves h
      JOIN core a ON a.k = h.k JOIN core b ON b.k = h.nbr
    ),
    reach(k, label) AS (
      SELECT k, k FROM core
      UNION
      SELECT e.dst, r.label FROM reach r JOIN core_edges e ON e.src = r.k
    ),
    comp AS (SELECT k, min(label) AS component FROM reach GROUP BY k),
    border AS (
      SELECT h.k, min(c.component) AS component
      FROM halves h JOIN comp c ON c.k = h.nbr
      WHERE h.k NOT IN (SELECT k FROM core)
      GROUP BY h.k
    )
    SELECT d.k, d.n_neighbors,
           CASE WHEN c.k IS NOT NULL THEN 'core'
                WHEN b.k IS NOT NULL THEN 'border'
                ELSE 'noise' END AS role,
           coalesce(c2.component, b.component) AS component
    FROM deg d
    LEFT JOIN core c ON c.k = d.k
    LEFT JOIN comp c2 ON c2.k = d.k
    LEFT JOIN border b ON b.k = d.k
    """,
)
def cluster_dbscan_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-bucketed DBSCAN over the customer point cloud (eps = 8
    micro-degree-millions Euclidean, minPts = 4): candidate pairs via
    the 9-cell equality-shuffle epsilon-join (NO cross join — each
    qualifying pair meets in exactly one bucket), core points by
    neighbor degree, clusters by min-label connected components over
    the core-core subgraph (operators/dedup.py:connected_components —
    the production CC with the star handoff), borders deterministically
    assigned to their minimum neighboring core component, the rest
    noise.

    Scale: the epsilon-join is the geo_geohash_join plan (shuffle on
    cell keys, fanout bounded 9x, skew bounded by eps-cell density);
    degree and border assignment are pair-keyed partial aggs; CC cost
    is bounded by CORE edges only.  The oracle replays the closure
    with a recursive CTE over the identical pair set."""
    from ctgov_ai_etl_spark.operators.cache import track
    from ctgov_ai_etl_spark.operators.dedup import connected_components

    pts = _geo_points(spark, sf_dir).filter(F.col("k") <= _DBSCAN_CAP)
    eps = _DBSCAN_EPS
    cell_y = fdiv(F.col("lat") + 90_000_000, F.lit(eps))
    cell_x = fdiv(F.col("lng") + 180_000_000, F.lit(eps))
    right = pts.select(
        F.col("k").alias("b_k"),
        F.col("lat").alias("b_lat"),
        F.col("lng").alias("b_lng"),
        cell_y.alias("cy"),
        cell_x.alias("cx"),
    )
    offs = F.explode(
        F.array(
            *[
                F.struct(F.lit(dy).alias("dy"), F.lit(dx).alias("dx"))
                for dy in (-1, 0, 1)
                for dx in (-1, 0, 1)
            ]
        )
    ).alias("o")
    left = pts.select(
        F.col("k").alias("a_k"),
        F.col("lat").alias("a_lat"),
        F.col("lng").alias("a_lng"),
        cell_y.alias("ay"),
        cell_x.alias("ax"),
        offs,
    ).select(
        "a_k",
        "a_lat",
        "a_lng",
        (F.col("ay") + F.col("o.dy")).alias("cy"),
        (F.col("ax") + F.col("o.dx")).alias("cx"),
    )
    dlat = F.col("a_lat") - F.col("b_lat")
    dlng = F.col("a_lng") - F.col("b_lng")
    pairs = track(
        left.join(right, ["cy", "cx"])
        .filter(
            (F.col("a_k") < F.col("b_k"))
            & (F.abs(dlat) <= eps)
            & (F.abs(dlng) <= eps)
            & (dlat * dlat + dlng * dlng <= eps * eps)
        )
        .select(F.col("a_k").alias("ka"), F.col("b_k").alias("kb"))
    )
    halves = pairs.select(
        F.col("ka").alias("k"), F.col("kb").alias("nbr")
    ).unionAll(
        pairs.select(F.col("kb").alias("k"), F.col("ka").alias("nbr"))
    )
    deg = (
        pts.select("k")
        .join(halves, "k", "left")
        .groupBy("k")
        .agg(F.count("nbr").cast("long").alias("n_neighbors"))
    )
    core = deg.filter(
        F.col("n_neighbors") + 1 >= _DBSCAN_MINPTS
    ).select("k")
    core_edges = (
        halves.join(core.withColumnRenamed("k", "ck"), halves.k == F.col("ck"))
        .drop("ck")
        .join(
            core.withColumnRenamed("k", "cn"), halves.nbr == F.col("cn")
        )
        .select(F.col("k").alias("id_a"), F.col("nbr").alias("id_b"))
    )
    comp = connected_components(
        core.withColumnRenamed("k", "id"), core_edges, id_col="id"
    ).select(F.col("id").alias("k"), "component")
    border = (
        halves.join(
            comp.select(F.col("k").alias("nbr"), "component"), "nbr"
        )
        .join(core.withColumnRenamed("k", "ck"), halves.k == F.col("ck"), "left_anti")
        .groupBy("k")
        .agg(F.min("component").alias("b_component"))
    )
    return (
        deg.join(core.withColumn("is_core", F.lit(True)), "k", "left")
        .join(comp.withColumnRenamed("component", "c_component"), "k", "left")
        .join(border, "k", "left")
        .select(
            "k",
            "n_neighbors",
            F.when(F.col("is_core"), "core")
            .when(F.col("b_component").isNotNull(), "border")
            .otherwise("noise")
            .alias("role"),
            F.coalesce(F.col("c_component"), F.col("b_component")).alias(
                "component"
            ),
        )
    )
