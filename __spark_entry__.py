"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)``    — flagship spatial join on sf0.001.
``queries()``       — the gates: one callable per ``QUERIES`` row that
                      has an oracle.
``oracle_sql()``    — matching DuckDB SQL; column names/aliases match the
                      Spark output exactly (values are hash-compared).
``bench_queries()`` — the ``bench=True`` rows, timed by ``bench.py``.

Exactness strategy: float-valued aggregates are computed over
integer-scaled values (prices are cents-exact in the fixtures), so
Spark and DuckDB produce bit-identical results regardless of
aggregation order.  Spatial queries derive lon/lat from doc_id with
pure integer arithmetic replicated verbatim in the oracle SQL, so both
engines quantize identically.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable
from typing import NamedTuple

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def _reg(spark: SparkSession, sf_dir: str) -> None:
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            spark.read.parquet(path).createOrReplaceTempView(t)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


# ---------------------------------------------------------------------------
# deterministic derived geo-points over documents (same math both engines)
# ---------------------------------------------------------------------------

# NOTE: decimal-point literals type as DECIMAL in Spark but the ops
# must be DOUBLE in both engines — scientific notation (1e6, 180e0) is
# a double literal in both dialects.
DOC_PTS_SQL = (
    "SELECT doc_id, "
    "((doc_id * 2654435761) % 360000000) / 1e6 - 180e0 AS lon, "
    "((doc_id * 2246822519 + 7) % 180000000) / 1e6 - 90e0 AS lat "
    "FROM documents"
)


def _doc_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        (((F.col("doc_id") * 2654435761) % 360000000) / 1000000.0 - 180.0).alias("lon"),
        (((F.col("doc_id") * 2246822519 + 7) % 180000000) / 1000000.0 - 90.0).alias("lat"),
    )


# literal polygon set for PIP queries (integer coords; P0 concave)
POLYGONS = {
    0: [(-150, -60), (-30, -60), (-30, -20), (-90, -20), (-90, 20),
        (-30, 20), (-30, 60), (-150, 60), (-150, -60)],
    1: [(20, -30), (80, -30), (80, 30), (20, 30), (20, -30)],
    2: [(100, -40), (160, -40), (130, 40), (100, -40)],
}


def _polygons_pdf() -> pd.DataFrame:
    from gdal_spark import wkb

    rows = []
    for pid, ring in POLYGONS.items():
        arr = np.array(ring, dtype=float)
        rows.append(
            {
                "poly_id": pid,
                "name": f"poly{pid}",
                "geom_wkb": wkb.polygon([arr]),
                "bbox_minx": float(arr[:, 0].min()),
                "bbox_miny": float(arr[:, 1].min()),
                "bbox_maxx": float(arr[:, 0].max()),
                "bbox_maxy": float(arr[:, 1].max()),
            }
        )
    return pd.DataFrame(rows)


def _edges_values_sql() -> str:
    vals = []
    for pid, ring in POLYGONS.items():
        for (x1, y1), (x2, y2) in zip(ring[1:], ring[:-1]):
            vals.append(f"({pid}, {x1}e0, {y1}e0, {x2}e0, {y2}e0)")
    return ", ".join(vals)


PIP_ORACLE_SQL = f"""
WITH pts AS ({DOC_PTS_SQL}),
edges(poly_id, x1, y1, x2, y2) AS (VALUES {{values}}),
crossings AS (
  SELECT p.doc_id, e.poly_id,
    CASE WHEN (((e.y1 - p.lat) > 0 AND (e.y2 - p.lat) <= 0)
            OR ((e.y2 - p.lat) > 0 AND (e.y1 - p.lat) <= 0))
          AND ((e.x1 - p.lon) * (e.y2 - p.lat)
             - (e.x2 - p.lon) * (e.y1 - p.lat))
              / ((e.y2 - p.lat) - (e.y1 - p.lat)) > 0
    THEN 1 ELSE 0 END AS c
  FROM pts p CROSS JOIN edges e)
SELECT doc_id, poly_id FROM crossings
GROUP BY doc_id, poly_id HAVING SUM(c) % 2 = 1
"""


# ---------------------------------------------------------------------------
# shared SQL (dialect-common: runs verbatim on Spark SQL and DuckDB, so
# a gate's query is also its oracle)
# ---------------------------------------------------------------------------

# NOTE: every SUM is wrapped in CAST(... AS BIGINT): DuckDB types
# SUM(BIGINT) as HUGEINT which materializes as float64 in pandas,
# breaking the dtype-aware value hash of the gate (Spark returns int64).
# The CAST is a no-op on the Spark side.

_CENTS = "CAST(ROUND(l_extendedprice * 100) AS BIGINT)"
_DISC = "CAST(ROUND(l_discount * 100) AS BIGINT)"
_TAX = "CAST(ROUND(l_tax * 100) AS BIGINT)"
_QTY = "CAST(ROUND(l_quantity) AS BIGINT)"

_Q1_SQL = f"""
        SELECT l_returnflag, l_linestatus,
               CAST(SUM({_QTY}) AS BIGINT) AS sum_qty,
               CAST(SUM({_CENTS}) AS BIGINT) AS sum_base_cents,
               CAST(SUM({_CENTS} * (100 - {_DISC})) AS BIGINT) AS sum_disc_c4,
               CAST(SUM({_CENTS} * (100 - {_DISC}) * (100 + {_TAX})) AS BIGINT)
                 AS sum_charge_c6,
               COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus"""

_Q3_SQL = f"""
        SELECT o_orderkey,
               CAST(SUM({_CENTS} * (100 - {_DISC})) AS BIGINT) AS revenue_c4,
               o_orderdate, o_orderpriority
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-03-15'
          AND l_shipdate > TIMESTAMP '1996-03-15'
        GROUP BY o_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue_c4 DESC, o_orderkey LIMIT 10"""

_Q5_SQL = f"""
        SELECT n_name,
               CAST(SUM({_CENTS} * (100 - {_DISC})) AS BIGINT) AS revenue_c4
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1998-01-01'
        GROUP BY n_name"""

# per-row res-9 cell id + its res-5 parent (encode + parent in one
# gate; the groupBy(parent) rollup itself is generic Spark)
_CELL_ENCODE_SQL = f"""
        SELECT doc_id,
               (CAST(9 AS BIGINT) * CAST(288230376151711744 AS BIGINT)
                + LEAST(GREATEST(CAST(FLOOR((lon + 180e0) / 360e0 * 512) AS BIGINT), 0), 511)
                  * CAST(536870912 AS BIGINT)
                + LEAST(GREATEST(CAST(FLOOR((lat + 90e0) / 180e0 * 512) AS BIGINT), 0), 511)
               ) AS cell_id,
               (CAST(5 AS BIGINT) * CAST(288230376151711744 AS BIGINT)
                + LEAST(GREATEST(CAST(FLOOR((lon + 180e0) / 360e0 * 32) AS BIGINT), 0), 31)
                  * CAST(536870912 AS BIGINT)
                + LEAST(GREATEST(CAST(FLOOR((lat + 90e0) / 180e0 * 32) AS BIGINT), 0), 31)
               ) AS cell5
        FROM ({DOC_PTS_SQL}) pts"""

_TILE_ASSIGN_SQL = f"""
        SELECT doc_id, tx, ty,
               CAST(CAST(FLOOR(tx / 32e0) AS BIGINT) % 2
                  + 2 * (CAST(FLOOR(ty / 32e0) AS BIGINT) % 2) AS STRING) ||
               CAST(CAST(FLOOR(tx / 16e0) AS BIGINT) % 2
                  + 2 * (CAST(FLOOR(ty / 16e0) AS BIGINT) % 2) AS STRING) ||
               CAST(CAST(FLOOR(tx / 8e0) AS BIGINT) % 2
                  + 2 * (CAST(FLOOR(ty / 8e0) AS BIGINT) % 2) AS STRING) ||
               CAST(CAST(FLOOR(tx / 4e0) AS BIGINT) % 2
                  + 2 * (CAST(FLOOR(ty / 4e0) AS BIGINT) % 2) AS STRING) ||
               CAST(CAST(FLOOR(tx / 2e0) AS BIGINT) % 2
                  + 2 * (CAST(FLOOR(ty / 2e0) AS BIGINT) % 2) AS STRING) ||
               CAST(tx % 2 + 2 * (ty % 2) AS STRING) AS quadkey,
               (63 - ty) AS tms_y
        FROM (
          SELECT doc_id,
            CAST(LEAST(GREATEST(FLOOR((lon + 180e0) / 360e0 * 64), 0), 63) AS BIGINT) AS tx,
            CAST(LEAST(GREATEST(FLOOR(
              (1e0 - LN(TAN(RADIANS(latc)) + 1e0 / COS(RADIANS(latc))) / PI()) / 2e0 * 64
            ), 0), 63) AS BIGINT) AS ty
          FROM (
            SELECT doc_id, lon,
                   LEAST(GREATEST(lat, -85.05112878e0), 85.05112878e0) AS latc
            FROM ({DOC_PTS_SQL}) pts) c) t"""

# sessionization (gap > 30 min; batch analog of session windows)
_SESSIONIZE_SQL = """
        WITH e AS (SELECT user_id, event_id, ts FROM events
                   WHERE user_id % 53 = 0),
        l AS (SELECT user_id, event_id, ts,
                     LAG(ts) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev
              FROM e),
        f AS (SELECT user_id, event_id, ts,
                     CASE WHEN prev IS NULL
                            OR ts > prev + INTERVAL 30 MINUTE
                          THEN 1 ELSE 0 END AS new_s
              FROM l),
        s AS (SELECT user_id, event_id,
                     CAST(SUM(new_s) OVER (PARTITION BY user_id
                                           ORDER BY ts, event_id
                                           ROWS UNBOUNDED PRECEDING)
                          AS BIGINT) AS session_id
              FROM f)
        SELECT user_id, session_id, COUNT(*) AS n_events,
               MIN(event_id) AS first_event
        FROM s GROUP BY user_id, session_id"""

# grid data metrics per cell (alg/gdalgrid.cpp:1033+: minimum/maximum/
# count of scattered points per output cell)
_GRID_METRICS_SQL = f"""
        WITH pts AS ({DOC_PTS_SQL}),
        g AS (SELECT doc_id, lon, lat,
                LEAST(GREATEST(CAST(FLOOR((lon + 180e0) / 360e0 * 32)
                                    AS BIGINT), 0), 31) AS ix,
                LEAST(GREATEST(CAST(FLOOR((lat + 90e0) / 180e0 * 32)
                                    AS BIGINT), 0), 31) AS iy
              FROM pts),
        c AS (SELECT ix, iy,
                     lon - ((ix + 0.5e0) / 32e0 * 360e0 - 180e0) AS dx,
                     lat - ((iy + 0.5e0) / 32e0 * 180e0 - 90e0) AS dy
              FROM g)
        SELECT ix, iy, COUNT(*) AS n,
               MIN(CAST(ROUND(SQRT(dx * dx + dy * dy) * 1e6) AS BIGINT))
                 AS min_d6,
               MAX(CAST(ROUND(SQRT(dx * dx + dy * dy) * 1e6) AS BIGINT))
                 AS max_d6
        FROM c GROUP BY ix, iy"""

def _utm_sql() -> str:
    """WGS84 → UTM forward (transverse Mercator, 4th-order Krüger
    series, standard published coefficients): per-point zone from lon,
    E/N in millimetres. Pure SQL shared verbatim by both engines."""
    f = 1.0 / 298.257223563
    a = 6378137.0
    n = f / (2.0 - f)
    big_a = a / (1.0 + n) * (1.0 + n * n / 4.0 + n ** 4 / 64.0)
    a1 = n / 2.0 - 2.0 / 3.0 * n ** 2 + 5.0 / 16.0 * n ** 3 \
        + 41.0 / 180.0 * n ** 4
    a2 = 13.0 / 48.0 * n ** 2 - 3.0 / 5.0 * n ** 3 \
        + 557.0 / 1440.0 * n ** 4
    a3 = 61.0 / 240.0 * n ** 3 - 103.0 / 140.0 * n ** 4
    a4 = 49561.0 / 161280.0 * n ** 4
    s2n = 2.0 * n ** 0.5 / (1.0 + n)
    k0a = 0.9996 * big_a
    series_xi = " + ".join(
        f"{c!r} * SIN({2 * j}e0 * xip)"
        f" * ((EXP({2 * j}e0 * etap) + EXP(-{2 * j}e0 * etap)) / 2e0)"
        for j, c in zip((1, 2, 3, 4), (a1, a2, a3, a4))
    )
    series_eta = " + ".join(
        f"{c!r} * COS({2 * j}e0 * xip)"
        f" * ((EXP({2 * j}e0 * etap) - EXP(-{2 * j}e0 * etap)) / 2e0)"
        for j, c in zip((1, 2, 3, 4), (a1, a2, a3, a4))
    )
    return f"""
        WITH pts AS ({DOC_PTS_SQL}),
        cl AS (SELECT doc_id,
                      LEAST(GREATEST(lat, -84e0), 84e0) AS latc, lon
               FROM pts),
        zc AS (SELECT doc_id, latc, lon,
                      LEAST(CAST(FLOOR((lon + 180e0) / 6e0) AS BIGINT)
                            + 1, 60) AS zone
               FROM cl),
        pr AS (SELECT doc_id, zone, latc,
                      RADIANS(latc) AS phi,
                      RADIANS(lon - (zone * 6 - 183)) AS dlam
               FROM zc),
        s1 AS (SELECT doc_id, zone, latc, dlam, SIN(phi) AS sphi FROM pr),
        s2 AS (SELECT *,
                      0.5e0 * LN((1e0 + sphi) / (1e0 - sphi))
                      - {s2n!r} * (0.5e0 * LN((1e0 + {s2n!r} * sphi)
                                              / (1e0 - {s2n!r} * sphi)))
                        AS u
               FROM s1),
        s3 AS (SELECT *, (EXP(u) - EXP(-u)) / 2e0 AS t FROM s2),
        s4 AS (SELECT *,
                      ATAN2(t, COS(dlam)) AS xip,
                      0.5e0 * LN((1e0 + SIN(dlam) / SQRT(1e0 + t * t))
                                 / (1e0 - SIN(dlam) / SQRT(1e0 + t * t)))
                        AS etap
               FROM s3),
        s5 AS (SELECT doc_id, zone, latc,
                      xip + {series_xi} AS xi,
                      etap + {series_eta} AS eta
               FROM s4)
        SELECT doc_id, zone,
               CAST(ROUND((500000e0 + {k0a!r} * eta) * 1000e0) AS BIGINT)
                 AS e_mm,
               CAST(ROUND((CASE WHEN latc >= 0 THEN 0e0
                                ELSE 10000000e0 END
                           + {k0a!r} * xi) * 1000e0) AS BIGINT) AS n_mm
        FROM s5"""


# ---------------------------------------------------------------------------
# engine-implemented queries (DataFrame API / gdal_spark operators)
# with hand-written oracles
# ---------------------------------------------------------------------------


def _sql_query(sql: str) -> Callable[[SparkSession, str], DataFrame]:
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        _reg(spark, sf_dir)
        return spark.sql(sql)

    return run


_OGR_SQL_QUERY = (
    "SELECT o_orderkey, CONCAT(o_orderstatus, '-', o_orderpriority) AS tag, "
    "SUBSTR(o_orderpriority, 1, 3) AS pri, "
    "CAST(o_orderkey % 97 AS integer) AS bucket "
    "FROM orders "
    "WHERE o_orderpriority LIKE '%urgent%' AND o_orderkey % 3 = 0 "
    "AND o_orderstatus IN ('O', 'F') "
    "AND o_custkey IS NOT NULL AND o_orderkey BETWEEN 100 AND 40000 "
    "ORDER BY o_orderkey DESC LIMIT 50 OFFSET 5"
)


def _q_ogr_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OGR SQL string front-end (swq_parser.y dialect → DataFrame):
    record-set mode with OGR's case-insensitive LIKE, scalar funcs,
    CAST, ORDER BY/LIMIT/OFFSET — oracle is the equivalent ANSI SQL."""
    from gdal_spark import ogrsql

    return ogrsql.execute(
        {"orders": _t(spark, sf_dir, "orders")}, _OGR_SQL_QUERY
    )


_OGR_SQL_ORACLE = """
        SELECT o_orderkey, o_orderstatus || '-' || o_orderpriority AS tag,
               SUBSTR(o_orderpriority, 1, 3) AS pri,
               CAST(o_orderkey % 97 AS INTEGER) AS bucket
        FROM orders
        WHERE o_orderpriority ILIKE '%urgent%' AND o_orderkey % 3 = 0
          AND o_orderstatus IN ('O', 'F')
          AND o_custkey IS NOT NULL AND o_orderkey BETWEEN 100 AND 40000
        ORDER BY o_orderkey DESC LIMIT 50 OFFSET 5"""


def _q_ogr_sql_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OGR SQL front-end: first-match LEFT JOIN through the parser
    (ogr_gensql.cpp:1497-1526 one-row-per-primary semantics)."""
    from gdal_spark import ogrsql

    return ogrsql.execute(
        {
            "nation": _t(spark, sf_dir, "nation"),
            "customer": _t(spark, sf_dir, "customer"),
        },
        "SELECT n_nationkey, n_name, customer.c_custkey AS first_custkey "
        "FROM nation LEFT JOIN customer ON n_nationkey = c_nationkey "
        "ORDER BY n_nationkey",
    )


_OGR_SQL_JOIN_ORACLE = """
        SELECT n_nationkey, n_name, c_custkey AS first_custkey FROM (
          SELECT n.n_nationkey, n.n_name, c.c_custkey,
                 ROW_NUMBER() OVER (PARTITION BY n.n_nationkey
                                    ORDER BY c.c_custkey ASC NULLS LAST) AS rn
          FROM nation n LEFT JOIN customer c ON n.n_nationkey = c.c_nationkey
        ) t WHERE rn = 1"""


def _q_pip_engine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cell-cover broadcast spatial join + exact PIP (the north-rule op)."""
    from gdal_spark.operators.spatial_join import spatial_join

    pts = _doc_points(spark, sf_dir)
    joined = spatial_join(pts, _polygons_pdf(), res_min=2, res_max=7)
    return joined.select("doc_id", "poly_id")


def _q_pip_count_engine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gdal_spark.operators.spatial_join import spatial_join_count

    pts = _doc_points(spark, sf_dir)
    return spatial_join_count(pts, _polygons_pdf(), res_min=2, res_max=7)


def _q_knn_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed kNN: query side stays a DataFrame (scale path)."""
    from gdal_spark.operators.knn import knn_join_df

    pts = _doc_points(spark, sf_dir)
    queries = pts.filter(F.col("doc_id") % 67 == 0).select(
        F.col("doc_id").alias("qid"),
        F.col("lon").alias("qlon"),
        F.col("lat").alias("qlat"),
    )
    out = knn_join_df(
        pts.withColumnRenamed("doc_id", "pid"), queries, k=3, res=5
    )
    return out.select("qid", F.col("rank").alias("rnk"), "pid")


_KNN_DF_ORACLE = f"""
        WITH pts AS ({DOC_PTS_SQL}),
        q AS (SELECT doc_id AS qid, lon AS qlon, lat AS qlat
              FROM pts WHERE doc_id % 67 = 0)
        SELECT qid, rnk, pid FROM (
          SELECT q.qid, p.doc_id AS pid,
                 ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
                   (p.lon - q.qlon) * (p.lon - q.qlon)
                 + (p.lat - q.qlat) * (p.lat - q.qlat) ASC, p.doc_id ASC) AS rnk
          FROM q CROSS JOIN pts p) t
        WHERE rnk <= 3"""


def _q_dd_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gdal_spark.operators.dedup import exact_dup_groups

    docs = _t(spark, sf_dir, "documents")
    prefix = F.concat_ws(" ", F.slice(F.split(F.col("text"), " "), 1, 2))
    return exact_dup_groups(docs, prefix, "doc_id")


def _q_dd_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gdal_spark.operators.dedup import minhash_lsh_pairs

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    # 64 perms / 32 bands x 2 rows: for the verified threshold 0.8 the
    # banding miss-probability is 1-(1-0.8²)³² ≈ 1e-14 — same exact
    # output as 128/64 with half the codegen footprint
    return minhash_lsh_pairs(
        docs, "doc_id", "text", n=1, num_perm=64, bands=32,
        threshold_num=4, threshold_den=5,
    )


_MINHASH_ORACLE = """
        WITH d AS (SELECT doc_id, string_split(text, ' ') AS w
                   FROM documents WHERE doc_id < 200),
        g AS (SELECT DISTINCT doc_id, UNNEST(w) AS gram FROM d),
        sz AS (SELECT doc_id, COUNT(*) AS n FROM g GROUP BY doc_id),
        inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                         COUNT(*) AS inter_cnt
                  FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
                  GROUP BY 1, 2)
        SELECT doc_a, doc_b, inter_cnt,
               (sa.n + sb.n - inter_cnt) AS union_cnt
        FROM inter
        JOIN sz sa ON sa.doc_id = doc_a
        JOIN sz sb ON sb.doc_id = doc_b
        WHERE inter_cnt * 5 >= (sa.n + sb.n - inter_cnt) * 4"""


def _q_dd_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-pair machinery on a closed-form fingerprint
    fixture: fp(doc) = base(doc//8) XOR (1 << 8*(doc%8)), so every
    within-group pair is exactly Hamming 2 (each member flips one
    distinct bit, one per 8-bit stride — the flips land in different
    16-bit pigeonhole blocks, exercising the multi-block path). The
    oracle recomputes the same fingerprints in SQL and brute-forces
    all pairs with xor+bit_count, so blocking + verify are
    value-exact; the text→fingerprint step (xxhash64 sign sums) is
    pinned by tests/test_dedup.py."""
    from gdal_spark.operators.dedup import simhash_pairs_from_fps

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    fp = F.expr(
        "CAST(doc_id DIV 8 AS BIGINT) * CAST(92233720368547757 AS BIGINT)"
    ).bitwiseXOR(
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST((doc_id % 8) * 8 AS INT))")
    )
    sh = docs.select("doc_id", fp.alias("simhash"))
    return simhash_pairs_from_fps(sh, "doc_id", max_hamming=3, n_blocks=4)


_SIMHASH_ORACLE = """
    WITH d AS (
      SELECT doc_id,
             xor(CAST((doc_id // 8) * 92233720368547757 AS BIGINT),
                 CAST(1 AS BIGINT) << CAST((doc_id % 8) * 8 AS INTEGER))
               AS fp
      FROM documents WHERE doc_id < 200)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.fp, b.fp)) AS INTEGER) AS hamming
    FROM d a JOIN d b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.fp, b.fp)) <= 3"""


def _q_dd_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-document resolution over a near-dup pair graph:
    connected components via the engine's distributed union-find
    contraction (no edge list on the driver). The pair graph is a
    deterministic chain fixture — (i, i+1) within each 7-block — so
    components are multi-hop runs (genuinely iterative to resolve)
    with a closed-form root the oracle states directly."""
    from gdal_spark.operators.dedup import dup_clusters

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    a = docs.filter(F.col("doc_id") % 7 != 6).select(
        F.col("doc_id").alias("doc_a"),
        (F.col("doc_id") + 1).alias("doc_b"),
    )
    pairs = a.join(docs.withColumnRenamed("doc_id", "doc_b"), "doc_b")
    return dup_clusters(pairs)


_DUP_CLUSTERS_ORACLE = """
    WITH e AS (
      SELECT a.doc_id AS doc_a, a.doc_id + 1 AS doc_b
      FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
      WHERE a.doc_id % 7 <> 6),
    n AS (SELECT doc_a AS doc_id FROM e
          UNION SELECT doc_b FROM e)
    SELECT doc_id, doc_id - (doc_id % 7) AS root_id FROM n"""


def _q_tx_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gdal_spark.operators.text import token_count

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", token_count(F.col("text")).cast("long").alias("n_tokens")
    )


def _q_tx_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals (top word / top 2-gram counts)
    — strictly subsumes the retired tx_token_count gate (n_tokens is
    one of its output columns)."""
    from gdal_spark.operators.text import repetition_signals

    return repetition_signals(_t(spark, sf_dir, "documents"))


_REPETITION_ORACLE = """
    WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
               FROM documents),
    wc AS (SELECT doc_id, w, COUNT(*) AS c FROM w GROUP BY doc_id, w),
    tw AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
                  COUNT(*) AS n_distinct,
                  CAST(MAX(c) AS BIGINT) AS top_word_n
           FROM wc GROUP BY doc_id),
    s AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    bgl AS (SELECT doc_id,
                   list_transform(range(1, len(toks)),
                                  i -> toks[i] || ' ' || toks[i + 1])
                     AS bgs
            FROM s),
    bg AS (SELECT doc_id, unnest(bgs) AS b FROM bgl),
    bc AS (SELECT doc_id, b, COUNT(*) AS c FROM bg GROUP BY doc_id, b),
    tb AS (SELECT doc_id, CAST(MAX(c) AS BIGINT) AS top_bigram_n
           FROM bc GROUP BY doc_id)
    SELECT tw.doc_id, n_tokens, n_distinct, top_word_n,
           COALESCE(top_bigram_n, 0) AS top_bigram_n
    FROM tw LEFT JOIN tb ON tw.doc_id = tb.doc_id"""


def _q_src_warc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC container round trip (Common Crawl's native layout): build
    pages (url, warc_ts, html=utf-8 text) from documents, write them
    as per-record-gzip WARC/1.1 files with the distributed sink, read
    them back with the distributed file-parallel scan, and emit
    (doc_id, warc_ts, md5(html), byte length). The oracle recomputes
    all four straight from the table — equality proves the container
    round trip is byte-exact (md5 over the UTF-8 payload matches
    DuckDB's md5 over the same string's bytes)."""
    import shutil
    import tempfile

    from gdal_spark import warc

    docs = _t(spark, sf_dir, "documents")
    pages = docs.select(
        F.concat(
            F.lit("https://corpus.example/doc/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
        F.format_string(
            "2026-01-01T%02d:%02d:%02dZ",
            F.expr("(doc_id div 3600) % 24").cast("int"),
            F.expr("(doc_id div 60) % 60").cast("int"),
            F.expr("doc_id % 60").cast("int"),
        ).alias("warc_ts"),
        F.encode("text", "utf-8").alias("html"),
    )
    out_dir = os.path.join(
        tempfile.gettempdir(),
        "gdal_spark_warc_" + os.path.basename(os.path.normpath(sf_dir)),
    )
    shutil.rmtree(out_dir, ignore_errors=True)
    warc.write_warc_dir(pages.repartition(8, "url"), out_dir).count()
    back = warc.read_warc(spark, out_dir)
    return back.select(
        F.regexp_extract("url", r"/doc/(\d+)$", 1).cast("long")
        .alias("doc_id"),
        "warc_ts",
        F.md5("html").alias("html_md5"),
        F.length("html").cast("long").alias("n_bytes"),
    )


# GeoTIFF fixture geometry: non-multiple-of-tile dims force cropped
# edge blocks through the codec; uint16 + DEFLATE + predictor 2 runs
# the full from-spec pipeline (frmts/gtiff/geotiff.cpp analog).
_GT_W, _GT_H, _GT_TS = 200, 120, 64
_GT_GT = (500000.0, 30.0, 0.0, 4650000.0, 0.0, -30.0)


def _q_src_gtiff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """From-spec GeoTIFF/COG source round trip: the formula raster
    val=(x*7+y*13)%251 is encoded as a tiled (64×64) uint16 GeoTIFF
    (DEFLATE + horizontal predictor + PixelScale/Tiepoint/GeoKey
    tags), then scanned back through the COG path —
    ``read_gtiff_ranged``: header-only block index, per-BLOCK decode
    parallelism, seek-range reads, zero pixel bytes shuffled — and
    reduced to per-tile (sum, min, max, position-weighted checksum)
    plus geo coordinates derived from the PARSED geotransform. The
    oracle restates raster, tiling and georeferencing in closed form:
    equality proves the codec, the block index, the ranged decode and
    the GeoTIFF tag parse are all value-exact."""
    import tempfile

    from gdal_spark import gtiff

    x = np.arange(_GT_W, dtype=np.int64)
    y = np.arange(_GT_H, dtype=np.int64)
    arr = ((x[None, :] * 7 + y[:, None] * 13) % 251).astype(np.uint16)
    path = os.path.join(
        tempfile.gettempdir(),
        "gdal_spark_gtiff_"
        + os.path.basename(os.path.normpath(sf_dir)) + ".tif",
    )
    with open(path, "wb") as f:
        f.write(
            gtiff.tiff_encode(
                arr, tile=(_GT_TS, _GT_TS), compression="deflate",
                predictor=True, geotransform=_GT_GT, epsg=32633,
            )
        )

    tiles = gtiff.read_gtiff_ranged(spark, [path], partitions=8)

    agg_schema = (
        "tx long, ty long, w int, h int, sum_val long, min_val long, "
        "max_val long, cks long"
    )

    def agg(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                a = np.frombuffer(r.data, dtype="<u2").reshape(
                    r.h, r.w
                ).astype(np.int64)
                xs = np.arange(r.x0, r.x0 + r.w, dtype=np.int64)
                ys = np.arange(r.y0, r.y0 + r.h, dtype=np.int64)
                wgt = xs[None, :] * 31 + ys[:, None] * 17
                rows.append(
                    (
                        int(r.tx), int(r.ty), int(r.w), int(r.h),
                        int(a.sum()), int(a.min()), int(a.max()),
                        int((a * wgt).sum()),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=["tx", "ty", "w", "h", "sum_val", "min_val",
                         "max_val", "cks"],
            )

    per_tile = tiles.mapInPandas(agg, agg_schema)
    # geo columns from the PARSED tags (not the constants above):
    # broadcast the 1-row metadata and evaluate the affine JVM-side
    meta = gtiff.gtiff_meta_df(spark, path).select(
        F.element_at("gt", 1).alias("g0"),
        F.element_at("gt", 2).alias("g1"),
        F.element_at("gt", 4).alias("g3"),
        F.element_at("gt", 6).alias("g5"),
        F.col("epsg"),
    )
    return (
        per_tile.crossJoin(F.broadcast(meta))
        .select(
            "tx", "ty", "w", "h", "sum_val", "min_val", "max_val",
            "cks",
            (F.col("g0") + F.col("tx") * _GT_TS * F.col("g1"))
            .alias("geo_x0"),
            (F.col("g3") + F.col("ty") * _GT_TS * F.col("g5"))
            .alias("geo_y0"),
            F.col("epsg").cast("int").alias("epsg"),
        )
    )


_SRC_GTIFF_ORACLE = f"""
    WITH px AS (
      SELECT a.x AS x, b.y AS y
      FROM generate_series(0, {_GT_W - 1}) a(x)
      CROSS JOIN generate_series(0, {_GT_H - 1}) b(y)),
    v AS (SELECT x, y, (x * 7 + y * 13) % 251 AS val FROM px)
    SELECT x // {_GT_TS} AS tx, y // {_GT_TS} AS ty,
           CAST(LEAST({_GT_TS}, {_GT_W} - (x // {_GT_TS}) * {_GT_TS})
                AS INT) AS w,
           CAST(LEAST({_GT_TS}, {_GT_H} - (y // {_GT_TS}) * {_GT_TS})
                AS INT) AS h,
           CAST(SUM(val) AS BIGINT) AS sum_val,
           CAST(MIN(val) AS BIGINT) AS min_val,
           CAST(MAX(val) AS BIGINT) AS max_val,
           CAST(SUM(val * (x * 31 + y * 17)) AS BIGINT) AS cks,
           {_GT_GT[0]} + (x // {_GT_TS}) * {_GT_TS} * {_GT_GT[1]}
             AS geo_x0,
           {_GT_GT[3]} + (y // {_GT_TS}) * {_GT_TS} * {_GT_GT[5]}
             AS geo_y0,
           CAST(32633 AS INT) AS epsg
    FROM v GROUP BY 1, 2, 3, 4, 10, 11
"""


def _gcp_fit_fixture():
    """Deterministic order-2 GCP fit: 20 integer tie points sampled
    from a fixed quadratic ground truth (alg/gdal_crs.c CRS_compute
    analog). Fitting happens ONCE here; gate and oracle then evaluate
    the SAME fitted coefficients with the SAME left-associative
    operation order, so both sides see bit-identical doubles and the
    comparison cannot wobble on fit residuals."""
    from gdal_spark import gcp

    k = np.arange(20, dtype=np.float64)
    px = (k * 37) % 101 - 50.0
    py = (k * 53) % 61 - 30.0
    x2, y2 = px * px, py * py
    X = 2.0 + 0.5 * px + 0.01 * py + 1e-3 * px * py + 2e-3 * x2 \
        - 3e-3 * y2
    Y = -1.0 + 0.02 * px + 0.8 * py - 5e-4 * px * py + 1e-3 * y2
    cx, cy, rms = gcp.fit(np.stack([px, py, X, Y], axis=1), order=2)
    assert rms < 1e-6
    return cx, cy


def _q_sp_gcp_poly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GCP polynomial transform applied to the derived doc points as a
    pure JVM expression tree (whole-stage codegen, no Python) — the
    GDALCreateGCPTransformer point-probe path (alg/gdal_crs.c;
    gdal_translate -gcp / gdalwarp -order 2)."""
    from gdal_spark import gcp

    cx, cy = _gcp_fit_fixture()
    _reg(spark, sf_dir)
    pts = spark.sql(DOC_PTS_SQL)
    Xc, Yc = gcp.transform_columns(
        cx, cy, F.col("lon"), F.col("lat"), order=2
    )
    return pts.select(
        "doc_id",
        F.round(Xc * 1e6).cast("long").alias("gx_q6"),
        F.round(Yc * 1e6).cast("long").alias("gy_q6"),
    )


def _gcp_poly_oracle_sql() -> str:
    """Same fitted coefficients, same term structure and association
    order as gcp.transform_columns (term = c * x * ... * y * ...;
    sum left to right) — double-exact parity by construction."""
    from gdal_spark.gcp import terms

    cx, cy = _gcp_fit_fixture()

    def poly(coef):
        parts = []
        for c, (i, j) in zip(coef, terms(2)):
            t = repr(float(c))
            t = "(" + t + "".join(" * lon" * i) + "".join(" * lat" * j) + ")"
            parts.append(t)
        out = parts[0]
        for p in parts[1:]:
            out = f"({out} + {p})"
        return out

    return f"""
        WITH pts AS ({DOC_PTS_SQL})
        SELECT doc_id,
               CAST(round({poly(cx)} * 1e6) AS BIGINT) AS gx_q6,
               CAST(round({poly(cy)} * 1e6) AS BIGINT) AS gy_q6
        FROM pts
    """


# Hardened fixture rows: a corpus doc repeating a 6-word boilerplate
# block 3x and a bench doc repeating it 2x.  Distinct-gram semantics
# give overlap = 6 (the block's rotations); occurrence counting would
# give 16 and hash-mismatch the oracle — the gate now catches that
# divergence (VERDICT r03 #1).  Ids sit far above the corpus range;
# 1000000005 % 5 == 0 routes the second row into the bench set.
_CONTAM_BOILER = "zzqa zzqb zzqc zzqd zzqe zzqf"
_CONTAM_EXTRA = [
    (1000000001, " ".join([_CONTAM_BOILER] * 3)),
    (1000000005, " ".join([_CONTAM_BOILER] * 2)),
]


def _q_dd_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (GPT-3 appendix-C / PaLM 13-gram rule
    shape, n=6 here for the synthetic corpus): every 5th document
    plays the eval set; emit (doc_id, bench_id, overlap) for documents
    sharing >= 2 distinct 6-grams with an eval item. Corpus grams are
    a codegen projection; the eval gram table broadcasts — one
    broadcast join + one aggregation, corpus text never shuffles.
    ``exclude_self=True`` because the bench set is drawn from the
    corpus itself (same id space); the library default keeps self
    pairs."""
    from gdal_spark.operators.dedup import contamination_pairs

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text").union(
        spark.createDataFrame(_CONTAM_EXTRA, "doc_id long, text string")
    )
    bench = docs.where(F.col("doc_id") % 5 == 0).select(
        F.col("doc_id").alias("bench_id"), "text"
    )
    return contamination_pairs(
        docs, bench, n=6, min_overlap=2, exclude_self=True
    )


_CONTAM_EXTRA_SQL = " UNION ALL ".join(
    f"SELECT CAST({i} AS BIGINT) AS doc_id, "
    f"string_split('{t}', ' ') AS ts"
    for i, t in _CONTAM_EXTRA
)

_DD_CONTAMINATION_ORACLE = f"""
    WITH base AS (
      SELECT doc_id, string_split(text, ' ') AS ts FROM documents
      UNION ALL {_CONTAM_EXTRA_SQL}
    ), pg AS (
      SELECT doc_id, ts,
             unnest(range(1, greatest(len(ts) - 6 + 2, 1))) AS pos
      FROM base
    ), dg AS (
      SELECT DISTINCT doc_id,
             array_to_string(ts[pos:pos + 6 - 1], ' ') AS gram
      FROM pg
    ), bg AS (
      SELECT doc_id AS bench_id, gram FROM dg WHERE doc_id % 5 = 0
    )
    SELECT d.doc_id, b.bench_id, count(*) AS overlap
    FROM dg d JOIN bg b USING (gram)
    WHERE d.doc_id != b.bench_id
    GROUP BY d.doc_id, b.bench_id
    HAVING count(*) >= 2
"""


def _q_geo_dissolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate ST_Union / dissolve-by-attribute: 40 keys, each a
    chain of axis-aligned rects (alternating heights 2/3; spacing 3 =
    width-1 overlaps, spacing 4 = edge-touching) built distributed,
    dissolved per key. The fixture admits a closed-form union area —
    sum of rect areas minus the (n-1) pairwise chain overlaps, no
    triple overlaps by construction — which the oracle states
    directly; the engine computes it geometrically."""
    from gdal_spark import wkb as _wkb
    from gdal_spark.operators.layer_algebra import dissolve

    rows = (
        spark.range(40)
        .select(F.col("id").alias("g"))
        .select(
            "g",
            F.explode(
                F.sequence(F.lit(0), (F.lit(2) + F.col("g") % 5))
            ).alias("j"),
        )
    )

    def build(batches):
        for pdf in batches:
            geoms = []
            for g, j in zip(pdf["g"], pdf["j"]):
                dx = 3 + int(g) % 2
                h = 2 + (int(g) + int(j)) % 2
                x0 = int(j) * dx
                ring = np.array(
                    [[x0, 0], [x0 + 4, 0], [x0 + 4, h],
                     [x0, h], [x0, 0]],
                    dtype=np.float64,
                )
                geoms.append(_wkb.polygon([ring]))
            yield pd.DataFrame(
                {"key": pdf["g"].astype("int64"), "geom_wkb": geoms}
            )

    # persist the (tiny) fixture: dissolve's adaptive planner runs an
    # eager hot-key count job over its input before the fold job, and
    # the Python build should price in once, not twice
    rects = rows.mapInPandas(build, "key long, geom_wkb binary").persist()
    out = dissolve(rects, "key", "geom_wkb")
    return out.select(
        "key",
        F.round(F.col("area") * 100).cast("long").alias("area_q2"),
        "n_geoms",
    )


_GEO_DISSOLVE_ORACLE = """
    WITH keys AS (SELECT unnest(range(0, 40)) AS g),
    r AS (SELECT g, unnest(range(0, 3 + g % 5)) AS j FROM keys),
    p AS (SELECT g, j, 2 + (g + j) % 2 AS h, 3 + (g % 2) AS dx FROM r)
    SELECT g AS key,
           CAST(round((sum(4 * h)
                       - (count(*) - 1) * (4 - max(dx)) * 2) * 100)
                AS BIGINT) AS area_q2,
           count(*) AS n_geoms
    FROM p GROUP BY g
"""


def _q_dd_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr dedup (Lee et al. 2022): maximal duplicated token
    spans — every 8-token window occurring >= 2x corpus-wide, gap-
    merged per document. Runs the key='hash' scale path (the shuffle
    carries xxhash64 keys, never text); the oracle recomputes the
    same spans from the gram STRINGS, so a hash collision would show
    up as a value mismatch."""
    from gdal_spark.operators.dedup import duplicated_spans

    docs = _t(spark, sf_dir, "documents")
    return duplicated_spans(docs, window=8, min_count=2, key="hash")


def _substring_spans_oracle_sql(L: int = 8, min_count: int = 2) -> str:
    return f"""
    WITH base AS (
      SELECT doc_id, string_split(text, ' ') AS ts FROM documents
    ), pg AS (
      SELECT doc_id, ts,
             unnest(range(1, greatest(len(ts) - {L} + 2, 1))) AS pos
      FROM base
    ), gg AS (
      SELECT doc_id, pos,
             array_to_string(ts[pos:pos + {L} - 1], ' ') AS gram
      FROM pg
    ), dup AS (
      SELECT gram FROM gg GROUP BY gram HAVING count(*) >= {min_count}
    ), marked AS (
      SELECT gg.doc_id, gg.pos FROM gg JOIN dup USING (gram)
    ), s AS (
      SELECT doc_id, pos,
             CASE WHEN pos <= lag(pos) OVER (PARTITION BY doc_id
                                             ORDER BY pos) + {L}
                  THEN 0 ELSE 1 END AS brk
      FROM marked
    ), s2 AS (
      SELECT doc_id, pos,
             sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS sid
      FROM s
    )
    SELECT doc_id, min(pos) AS span_start,
           max(pos) + {L} - 1 AS span_end,
           count(*) AS n_windows
    FROM s2 GROUP BY doc_id, sid
    """


_SRC_WARC_ORACLE = """
    SELECT doc_id,
           printf('2026-01-01T%02d:%02d:%02dZ',
                  (doc_id // 3600) % 24,
                  (doc_id // 60) % 60,
                  doc_id % 60) AS warc_ts,
           md5(text) AS html_md5,
           octet_length(encode(text)) AS n_bytes
    FROM documents
"""


def _q_tx_web_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-corpus hygiene chain (CCNet/RefinedWeb front door): messy
    URL variants (3 per canonical page: casing/default-port/tracking-
    param/fragment/trailing-slash noise) + PII- and NFD-dirtied text
    → normalize_url → url_dedup (ONE shuffle) → redact_pii →
    nfc_clean. The oracle states the canonical-URL/dedup result in
    closed form and recomputes the text cleanup with DuckDB's own
    nfc_normalize + RE2 regexps (same patterns)."""
    from gdal_spark.operators.web import nfc_clean, redact_pii, url_dedup

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    base = (F.col("doc_id") - F.col("doc_id") % 3).cast("long")
    variant = (F.col("doc_id") % 3).cast("int")
    b = base.cast("string")
    url = (
        F.when(
            variant == 0,
            F.concat(
                F.lit("https://WWW.D"), b, F.lit(".Example.COM:443/p/"),
                b, F.lit("/?id="), b, F.lit("&utm_source=x"),
            ),
        )
        .when(
            variant == 1,
            F.concat(
                F.lit("https://www.d"), b, F.lit(".example.com/p/"),
                b, F.lit("?utm_campaign=y&id="), b,
            ),
        )
        .otherwise(
            F.concat(
                F.lit("https://www.d"), b, F.lit(".example.com/p/"),
                b, F.lit("/?id="), b, F.lit("#frag"),
            )
        )
    )
    # "re<U+0301>sume<U+0301>" — NFD; nfc_clean must compose it
    dirty = F.concat(
        F.lit("contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com  at 10.1.2."),
        (F.col("doc_id") % 250).cast("string"),
        F.lit(" re\u0301sume\u0301:  "),
        F.col("text"),
    )
    pages = docs.select(
        "doc_id", url.alias("url"), dirty.alias("text_dirty")
    )
    kept = url_dedup(pages, "url", "doc_id")
    red = redact_pii(kept, "text_dirty")
    out = nfc_clean(red, "text_redacted", "text_clean")
    return out.select(
        "url_norm", "doc_id", "n_dups", "n_emails", "n_ips", "text_clean"
    )


def _web_clean_oracle_sql() -> str:
    from gdal_spark.operators.web import EMAIL_RE, IPV4_RE

    return f"""
    WITH d AS (SELECT doc_id, doc_id - (doc_id % 3) AS base, text
               FROM documents),
    g AS (SELECT base, COUNT(*) AS n_dups, MIN(doc_id) AS keep
          FROM d GROUP BY base),
    k AS (SELECT g.base, g.n_dups, g.keep AS doc_id, d.text
          FROM g JOIN d ON d.doc_id = g.keep),
    dirty AS (SELECT base, n_dups, doc_id,
                     'contact user' || doc_id || '@example.com  at 10.1.2.'
                       || (doc_id % 250) || ' re' || chr(769) || 'sume'
                       || chr(769) || ':  ' || text AS t
              FROM k),
    r1 AS (SELECT *,
                  CAST(len(regexp_extract_all(t, '{EMAIL_RE}')) AS BIGINT)
                    AS n_emails,
                  regexp_replace(t, '{EMAIL_RE}', '<EMAIL>', 'g') AS t1
           FROM dirty),
    r2 AS (SELECT *,
                  CAST(len(regexp_extract_all(t1, '{IPV4_RE}')) AS BIGINT)
                    AS n_ips,
                  regexp_replace(t1, '{IPV4_RE}', '<IP>', 'g') AS t2
           FROM r1)
    SELECT 'https://www.d' || base || '.example.com/p/' || base
             || '?id=' || base AS url_norm,
           doc_id, n_dups, n_emails, n_ips,
           trim(regexp_replace(nfc_normalize(t2), '\\s+', ' ', 'g'))
             AS text_clean
    FROM r2"""


def _q_tx_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML→text front door (the CommonCrawl WET extraction contract;
    reference analog: ogr2ogr's per-feature translate loop,
    apps/ogr2ogr_lib.cpp:653, here bytes→fields over crawl markup).
    Deterministic pages built from documents.text: head/title, a
    style subtree, a pure-link <nav> (dropped at link density 0.5),
    two <p> blocks splitting the words, an &amp; entity, and a
    <script> subtree containing fake markup. The oracle states the
    expected extraction in closed form from the same source columns,
    so the parser must skip script/style/head, decode entities, break
    at block tags, collapse whitespace, and apply the link-density
    boilerplate filter exactly to hash-match."""
    from gdal_spark.operators.html import extract_text

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    ts = F.split("text", " ")
    k = (F.size(ts) / 2).cast("int")
    p1 = F.array_join(F.slice(ts, F.lit(1), k), " ")
    p2 = F.array_join(F.slice(ts, k + 1, F.size(ts) - k), " ")
    html = F.concat(
        F.lit("<html><head><title>Doc "),
        F.col("doc_id").cast("string"),
        F.lit(
            "</title><style>p{color:red}</style></head><body>"
            '<nav><a href="/">Home</a> <a href="/a">About</a></nav>'
            "<p>A &amp; B: "
        ),
        p1,
        F.lit("</p><p>"),
        p2,
        F.lit('</p><script>var x = "<p>junk</p>";</script></body></html>'),
    )
    pages = docs.select("doc_id", html.alias("html"))
    return extract_text(pages, max_link_density=0.5)


_TX_HTML_EXTRACT_ORACLE = """
    WITH b AS (SELECT doc_id, string_split(text, ' ') AS ts
               FROM documents),
    s AS (SELECT doc_id, ts, CAST(len(ts) // 2 AS INT) AS k FROM b),
    p AS (SELECT doc_id,
                 trim(regexp_replace(array_to_string(ts[1:k], ' '),
                                     ' +', ' ', 'g')) AS p1,
                 trim(regexp_replace(array_to_string(ts[k+1:len(ts)], ' '),
                                     ' +', ' ', 'g')) AS p2
          FROM s)
    SELECT doc_id,
           'A & B: ' || p1 || chr(10) || p2 AS text,
           'Doc ' || doc_id AS title,
           CAST(2 AS INTEGER) AS n_blocks,
           CAST(1 AS INTEGER) AS n_dropped_blocks
    FROM p"""


def _q_dd_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet line-level dedup (Wenzek et al. 2020 §3.1): documents
    re-lined into 5-word lines plus an injected case-varying
    copyright footer; every line whose trim+lowercase form occurs in
    >= 2 distinct documents is boilerplate and removed from ALL of
    them. The tiny shared vocabulary makes natural cross-document
    line collisions common, so the dropped set is data-dependent —
    the oracle recomputes the full frequency/filter/ordered-
    reassembly pipeline in SQL rather than stating the answer."""
    from gdal_spark.operators.html import line_dedup

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    ts = F.split("text", " ")
    nl = F.ceil(F.size(ts) / F.lit(5)).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(1), nl),
        lambda p: F.array_join(F.slice(ts, (p - 1) * 5 + 1, F.lit(5)), " "),
    )
    footer = F.when(
        F.col("doc_id") % 2 == 0, F.lit("Copyright 2026 ExampleCorp")
    ).otherwise(F.lit("copyright 2026 examplecorp"))
    body = F.concat(footer, F.lit("\n"), F.array_join(chunks, "\n"))
    pages = docs.select("doc_id", body.alias("text"))
    return line_dedup(pages, min_docs=2)


_DD_LINE_DEDUP_ORACLE = """
    WITH b AS (SELECT doc_id, string_split(text, ' ') AS ts
               FROM documents),
    pg AS (SELECT doc_id, ts,
                  unnest(range(1, CAST(ceil(len(ts) / 5.0) AS BIGINT) + 1))
                    AS p
           FROM b),
    lines AS (
      SELECT doc_id, CAST(0 AS BIGINT) AS pos,
             CASE WHEN doc_id % 2 = 0 THEN 'Copyright 2026 ExampleCorp'
                  ELSE 'copyright 2026 examplecorp' END AS line
      FROM b
      UNION ALL
      SELECT doc_id, p AS pos,
             array_to_string(ts[(p - 1) * 5 + 1 : least(p * 5, len(ts))],
                             ' ') AS line
      FROM pg),
    freq AS (SELECT trim(lower(line)) AS nl, COUNT(DISTINCT doc_id) AS d
             FROM lines GROUP BY 1),
    common AS (SELECT nl FROM freq WHERE d >= 2),
    tagged AS (SELECT l.doc_id, l.pos, l.line,
                      (c.nl IS NOT NULL) AS is_common
               FROM lines l
               LEFT JOIN common c ON trim(lower(l.line)) = c.nl)
    SELECT doc_id,
           COALESCE(string_agg(CASE WHEN NOT is_common THEN line END,
                               chr(10) ORDER BY pos), '') AS text,
           CAST(COALESCE(SUM(CASE WHEN NOT is_common THEN 1 END), 0)
                AS BIGINT) AS n_lines_kept,
           CAST(COALESCE(SUM(CASE WHEN is_common THEN 1 END), 0)
                AS BIGINT) AS n_lines_dropped
    FROM tagged GROUP BY doc_id"""


def _q_sim_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gdal_spark.operators.similarity import cosine_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    return cosine_topk(emb, queries, k=3)


# ANN recall fixture: 8 well-separated clusters of 2-sparse vectors
# v = e_c + eps * e_63 (eps dyadic, exact in float32), so every
# cosine has the CLOSED FORM (1[same cluster] + a*b) /
# (sqrt(1+a^2) * sqrt(1+b^2)) the DuckDB oracle can state, and the
# approximate indexes PROVABLY achieve recall 1: within-cluster
# cosine >= 0.97 vs cross-cluster <= 0.04, and a perturbation
# |eps| <= 6/32 can never flip a hyperplane sign (|w_p.v| >= 1-eps)
# nor a nearest-centroid assignment. That converts both ANN gates
# from rows-only to value-exact against the brute-force ranking.
_ANN_CLUSTERS, _ANN_PER, _ANN_DIM = 8, 6, 64


def _ann_fixture_rows() -> list[tuple[int, int, float]]:
    """(vec_id, cluster, eps): ids 0..7 are the 8 cluster bases (so a
    sorted head is one seed per cluster for build_centroids), the
    rest follow."""
    rows = []
    for c in range(_ANN_CLUSTERS):
        rows.append((c, c, 1.0 / 32.0))
        for i in range(1, _ANN_PER):
            rows.append(
                (
                    _ANN_CLUSTERS + c * (_ANN_PER - 1) + (i - 1),
                    c,
                    (i + 1) / 32.0,
                )
            )
    return rows


def _ann_fixture_df(spark: SparkSession) -> DataFrame:
    vecs = []
    for vid, c, eps in _ann_fixture_rows():
        v = np.zeros(_ANN_DIM, dtype=np.float32)
        v[c] = 1.0
        v[_ANN_DIM - 1] = eps
        vecs.append((vid, v.tolist()))
    pdf = pd.DataFrame(vecs, columns=["vec_id", "embedding"])
    return spark.createDataFrame(pdf).select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("embedding").cast("array<float>").alias("embedding"),
    )


def _ann_oracle_sql() -> str:
    """Exact brute-force cosine top-3 of the fixture in closed form
    (2-sparse dot products) — rank gaps are ~1e-3, far beyond any
    libm spread, so both engines order identically."""
    vals = ", ".join(
        f"({vid}, {c}, {eps!r})" for vid, c, eps in _ann_fixture_rows()
    )
    return f"""
        WITH v(vec_id, c, eps) AS (VALUES {vals}),
        q AS (SELECT vec_id AS qid, c AS qc, eps AS qeps FROM v
              WHERE vec_id < {_ANN_CLUSTERS}),
        pairs AS (
          SELECT q.qid, v.vec_id,
                 (CASE WHEN v.c = q.qc THEN 1e0 ELSE 0e0 END
                  + v.eps * q.qeps)
                 / (SQRT(1e0 + v.eps * v.eps)
                    * SQRT(1e0 + q.qeps * q.qeps)) AS cos
          FROM q CROSS JOIN v WHERE v.vec_id <> q.qid),
        r AS (SELECT qid, vec_id,
                     ROW_NUMBER() OVER (
                       PARTITION BY qid
                       ORDER BY cos DESC, vec_id ASC) AS rnk
              FROM pairs)
        SELECT qid, rnk, vec_id FROM r WHERE rnk <= 3
    """


def _q_sim_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k on the provable-recall fixture: seeds = the 8
    cluster bases, one Lloyd pass pins each centroid to its cluster
    mean, every vector's nearest centroid is provably its own
    cluster's, and each query's true top-3 lives in its probed list —
    so the approximate result EQUALS the exact ranking the oracle
    states (the IVF pruning itself is exercised: candidates per query
    are ~1/8 of the table, pruned before the re-rank)."""
    from gdal_spark.operators.similarity import ann_ivf_topk, build_centroids

    emb = _ann_fixture_df(spark)
    queries = emb.filter(F.col("vec_id") < _ANN_CLUSTERS).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    cents = build_centroids(
        emb.filter(F.col("vec_id") < _ANN_CLUSTERS)
        .orderBy("vec_id")
        .toPandas(),
        n_cells=_ANN_CLUSTERS,
    )
    return ann_ivf_topk(emb, queries, cents, k=3, n_probe=2)


def _q_sim_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH top-k on the provable-recall fixture: the eps perturbation
    can never flip a hyperplane sign, so every cluster shares one
    exact signature bucket containing its query's true top-3 — the
    bucket equi-join prunes candidates yet the approximate ranking
    EQUALS the exact oracle ranking."""
    from gdal_spark.operators.similarity import ann_lsh_topk

    emb = _ann_fixture_df(spark)
    queries = emb.filter(F.col("vec_id") < _ANN_CLUSTERS).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    return ann_lsh_topk(emb, queries, dim=_ANN_DIM, k=3, n_planes=8)


# ---------------------------------------------------------------------------
# raster / tiling queries (SURVEY §2.9, §2.10)
# ---------------------------------------------------------------------------

_PYR_ZOOM, _PYR_TS = 3, 64
_WARP_SRC_GT = (440720.0, 60.0, 0.0, 3751320.0, 0.0, -60.0)
_WARP_DST_GT = (440000.0, 75.0, 0.0, 3752000.0, 0.0, -75.0)
_WARP_SRC_WH = 128
_WARP_DST_W, _WARP_DST_H = 80, 60


def _q_geo_curve_linearize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curve geometry types through getLinearGeometry-analog
    densification (ogr/ogr_geometry.h:359+ curve classes;
    ogrgeometryfactory.cpp curveToLineString; OGR_ARC_STEPSIZE):
    full-circle CURVEPOLYGONs and quarter-arc CIRCULARSTRINGs
    linearize at a 3.7-degree max step, and the resulting inscribed
    n-gon areas / chord lengths / vertex counts are CLOSED FORM —
    the oracle states them with sin()/pi() directly. Step 3.7 keeps
    every ceil(sweep/step) far from an integer boundary, so the
    segment counts are float-robust. Built distributed; the kernel
    is gdal_spark.curves.linearize (codec + arc math pinned in
    tests/test_curves.py)."""
    from gdal_spark import curves
    from gdal_spark import geometry as _geometry
    from gdal_spark import wkb as _wkb

    rows = spark.range(8).select(F.col("id").alias("gid"))
    step = 3.7

    def build(batches):
        for pdf in batches:
            out = []
            for gid in pdf["gid"]:
                k = int(gid)
                r = 0.5 + 0.25 * k
                cx, cy = float(k), 2.0 * k
                if k % 2 == 0:
                    g = curves.curvepolygon([
                        curves.circularstring(
                            [[cx + r, cy], [cx - r, cy], [cx + r, cy]]
                        )
                    ])
                    kind = "circle"
                else:
                    s = r * np.sqrt(0.5)
                    g = curves.circularstring(
                        [[cx + r, cy], [cx + s, cy + s], [cx, cy + r]]
                    )
                    kind = "arc"
                lin = curves.linearize(g, step)
                t, payload = _wkb.parse(lin)
                if t == _wkb.POLYGON:
                    ring = payload[0]
                    area = abs(_geometry.ring_area(ring))
                    ln = float(
                        np.hypot(*(np.diff(ring, axis=0).T)).sum()
                    )
                    npts = len(ring)
                else:
                    area = 0.0
                    ln = float(
                        np.hypot(*(np.diff(payload, axis=0).T)).sum()
                    )
                    npts = len(payload)
                out.append(
                    (k, kind, int(round(area * 1e6)),
                     int(round(ln * 1e6)), npts)
                )
            yield pd.DataFrame(
                out,
                columns=["gid", "kind", "area_q6", "len_q6", "n_pts"],
            )

    return rows.mapInPandas(
        build,
        "gid long, kind string, area_q6 long, len_q6 long, n_pts long",
    )


_CURVE_LINEARIZE_ORACLE = """
    WITH g(gid) AS (VALUES (0),(1),(2),(3),(4),(5),(6),(7)),
    p AS (
      SELECT gid, 0.5 + 0.25 * gid AS r,
             CASE WHEN gid % 2 = 0 THEN 98 ELSE 25 END AS n,
             gid % 2 AS is_arc
      FROM g)
    SELECT gid,
      CASE WHEN is_arc = 0 THEN 'circle' ELSE 'arc' END AS kind,
      CAST(CASE WHEN is_arc = 0
           THEN ROUND(0.5 * n * r * r * SIN(2 * PI() / n) * 1e6)
           ELSE 0 END AS BIGINT) AS area_q6,
      CAST(ROUND(CASE WHEN is_arc = 0
           THEN 2 * n * r * SIN(PI() / n)
           ELSE n * 2 * r * SIN(PI() / (4 * n)) END * 1e6)
           AS BIGINT) AS len_q6,
      CAST(n + 1 AS BIGINT) AS n_pts
    FROM p"""


def _q_rs_pyramid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-burn base tiles at z=3 + average overviews to z=0, with a
    per-tile checksum (gdal2tiles data flow; overview.cpp AVERAGE)."""
    from gdal_spark.operators.tiling import (
        burn_points_tiles, pyramid, tile_checksums,
    )

    pts = _doc_points(spark, sf_dir)
    base = burn_points_tiles(pts, _PYR_ZOOM, _PYR_TS)
    return tile_checksums(pyramid(base, _PYR_ZOOM, 0))


def _warp_query(method: str):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from gdal_spark.operators.tiling import formula_tiles, warp_affine

        ts = 64
        tiles = formula_tiles(spark, _WARP_SRC_WH // ts, _WARP_SRC_WH // ts, ts)
        return warp_affine(
            tiles, _WARP_SRC_GT, _WARP_SRC_WH, _WARP_SRC_WH,
            _WARP_DST_GT, _WARP_DST_W, _WARP_DST_H,
            method=method, dst_block=32, src_tile_size=ts,
        )

    return run


# --- UTM→4326 warp: the reference's own headline warp direction
# (autotest/benchmark/test_gdalwarp.py:31-80). Source raster lives on
# a UTM zone-32 grid; destination is a geographic (EPSG:4326) grid
# whose per-pixel source position needs the FORWARD Krüger projection.
# All dst-grid constants dyadic → exact in both engines; the dst
# window sits strictly inside the src footprint so every pixel is
# valid (no mask-boundary ambiguity in the oracle).
_WUTM_ZONE = 32
_WUTM_SRC_WH = 256
_WUTM_SRC_GT = (487200.0, 100.0, 0.0, 5000000.0, 0.0, -100.0)
_WUTM_DST_WH = 64
_WUTM_DST_GT = (8.875, 0.00390625, 0.0, 45.046875, 0.0, -0.001953125)


def _q_rs_warp_utm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """General-transform warp UTM 32N → EPSG:4326 (nearest): the
    per-dst-pixel projection runs through proj.utm_forward inside the
    distributed gather (ogr/ogrct.cpp:2254 composition; warp engine
    alg/gdalwarpoperation.cpp)."""
    from gdal_spark import proj
    from gdal_spark.operators.tiling import formula_tiles, warp_affine

    ts = 64
    tiles = formula_tiles(
        spark, _WUTM_SRC_WH // ts, _WUTM_SRC_WH // ts, ts
    )
    return warp_affine(
        tiles, _WUTM_SRC_GT, _WUTM_SRC_WH, _WUTM_SRC_WH,
        _WUTM_DST_GT, _WUTM_DST_WH, _WUTM_DST_WH,
        method="nearest", dst_block=32, src_tile_size=ts,
        transform=proj.UTMForwardTransform(_WUTM_ZONE),
    )


def _warp_utm_oracle_sql() -> str:
    """Per dst pixel: exact dyadic lon/lat → forward Krüger series
    (fixed zone 32, same CTE chain as sp_utm_transform) → src pixel
    floor → formula value. Pixel-boundary floor slips would need the
    transcendental E/N to land within ~1e-9 px of an integer edge —
    far beyond the few-ulp libm spread."""
    from gdal_spark import proj

    c = proj.series_constants()
    s2n, k0a = c["e"], c["k0a"]
    a1, a2, a3, a4 = c["alpha"]
    series_xi = " + ".join(
        f"{cf!r} * SIN({2 * j}e0 * xip)"
        f" * ((EXP({2 * j}e0 * etap) + EXP(-{2 * j}e0 * etap)) / 2e0)"
        for j, cf in zip((1, 2, 3, 4), (a1, a2, a3, a4))
    )
    series_eta = " + ".join(
        f"{cf!r} * COS({2 * j}e0 * xip)"
        f" * ((EXP({2 * j}e0 * etap) - EXP(-{2 * j}e0 * etap)) / 2e0)"
        for j, cf in zip((1, 2, 3, 4), (a1, a2, a3, a4))
    )
    g = _WUTM_DST_GT
    sg = _WUTM_SRC_GT
    return f"""
        WITH dij AS (
          SELECT di.i AS di, dj.j AS dj
          FROM generate_series(0, {_WUTM_DST_WH - 1}) AS di(i)
          CROSS JOIN generate_series(0, {_WUTM_DST_WH - 1}) AS dj(j)),
        ll AS (
          SELECT di, dj,
                 {g[0]!r} + (di + 0.5e0) * {g[1]!r} AS lon,
                 {g[3]!r} + (dj + 0.5e0) * {g[5]!r} AS lat
          FROM dij),
        pr AS (SELECT di, dj,
                      RADIANS(LEAST(GREATEST(lat, -84e0), 84e0)) AS phi,
                      RADIANS(lon - {_WUTM_ZONE * 6 - 183}) AS dlam
               FROM ll),
        s1 AS (SELECT *, SIN(phi) AS sphi FROM pr),
        s2 AS (SELECT *,
                      0.5e0 * LN((1e0 + sphi) / (1e0 - sphi))
                      - {s2n!r} * (0.5e0 * LN((1e0 + {s2n!r} * sphi)
                                              / (1e0 - {s2n!r} * sphi)))
                        AS u FROM s1),
        s3 AS (SELECT *, (EXP(u) - EXP(-u)) / 2e0 AS t FROM s2),
        s4 AS (SELECT *, ATAN2(t, COS(dlam)) AS xip,
                      0.5e0 * LN((1e0 + SIN(dlam) / SQRT(1e0 + t * t))
                                 / (1e0 - SIN(dlam) / SQRT(1e0 + t * t)))
                        AS etap FROM s3),
        en AS (SELECT di, dj,
                      500000e0 + {k0a!r} * (etap + {series_eta}) AS e,
                      {k0a!r} * (xip + {series_xi}) AS n
               FROM s4),
        px AS (SELECT di, dj,
                      CAST(FLOOR(({sg[0]!r} * -0.01e0)
                                 + e * 0.01e0) AS BIGINT) AS ix,
                      CAST(FLOOR(({sg[3]!r} * 0.01e0)
                                 + n * -0.01e0) AS BIGINT) AS iy
               FROM en)
        SELECT di, dj,
               CASE WHEN ix >= 0 AND ix < {_WUTM_SRC_WH}
                     AND iy >= 0 AND iy < {_WUTM_SRC_WH}
                    THEN (ix * 7 + iy * 13) % 251 ELSE -1 END AS val
        FROM px"""


# LCC warp fixture: src raster georeferenced in Lambert-93
# (EPSG:2154 parameters — RGF93 2SP conic), dst grid in EPSG:3857.
# Every dst pixel maps inside src (px 60..147 × 75..163) with ≥1e-4 px
# clearance from pixel edges, so ulp-level libm spread between numpy
# and DuckDB cannot flip a floor.
_WLCC_PARAMS = (44.0, 49.0, 46.5, 3.0, 700000.0, 6600000.0)
_WLCC_SRC_WH = 256
_WLCC_SRC_GT = (600000.0, 500.0, 0.0, 6800000.0, 0.0, -500.0)
_WLCC_DST_WH = 64
_WLCC_DST_GT = (230000.0, 1024.0, 0.0, 6100000.0, 0.0, -1024.0)


def _q_rs_warp_lcc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPOSED-transform warp Lambert-93 → EPSG:3857 (nearest): the
    per-dst-pixel chain is ``proj.compose(WebMercatorToLonLat(),
    LCCForwardTransform(...))`` — the transformer-pipeline operator
    (alg/gdaltransformer.cpp:1379 GDALGenImgProjTransformer;
    ogr/ogrct.cpp:2254) that lets any projected→projected warp run
    through the same distributed gather without hand-composing
    kernels. Value-exact against an oracle restating the spherical
    mercator inverse and the Snyder LCC forward (PP 1395 eq.
    15-1..15-11) in SQL."""
    from gdal_spark import proj
    from gdal_spark.operators.tiling import formula_tiles, warp_affine

    ts = 64
    tiles = formula_tiles(
        spark, _WLCC_SRC_WH // ts, _WLCC_SRC_WH // ts, ts
    )
    tf = proj.compose(
        proj.WebMercatorToLonLat(),
        proj.LCCForwardTransform(*_WLCC_PARAMS),
    )
    return warp_affine(
        tiles, _WLCC_SRC_GT, _WLCC_SRC_WH, _WLCC_SRC_WH,
        _WLCC_DST_GT, _WLCC_DST_WH, _WLCC_DST_WH,
        method="nearest", dst_block=32, src_tile_size=ts,
        transform=tf,
    )


# Albers warp fixture: src raster georeferenced in CONUS Albers
# (EPSG:5070 parameters — NAD83/GRS80 equal-area conic), dst grid in
# EPSG:3857. Dst origin chosen (tools search over 100 m offsets) so
# every dst pixel maps inside src with ≥2.7e-4 px clearance from pixel
# edges — ulp-level libm spread between numpy and DuckDB (~1e-9 px)
# cannot flip a floor.
_WALB_PARAMS = (29.5, 45.5, 23.0, -96.0)
_WALB_SRC_WH = 256
_WALB_SRC_GT = (-400000.0, 1600.0, 0.0, 2030000.0, 0.0, -1600.0)
_WALB_DST_WH = 64
_WALB_DST_GT = (-11139100.0, 6000.0, 0.0, 5001900.0, 0.0, -6000.0)


def _q_rs_warp_albers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPOSED-transform warp CONUS Albers (EPSG:5070) → EPSG:3857
    (nearest): ``proj.compose(WebMercatorToLonLat(),
    albers_forward_transform(...))`` through the same distributed
    gather as rs_warp_lcc (alg/gdaltransformer.cpp:1379;
    ogr/ogrct.cpp:2254 behind PROJ ``aea``). Value-exact against an
    oracle restating the spherical mercator inverse and the Snyder
    Albers forward (PP 1395 eq. 14-1..14-4 + 3-12) in SQL."""
    from gdal_spark import proj
    from gdal_spark.operators.tiling import formula_tiles, warp_affine

    ts = 64
    tiles = formula_tiles(
        spark, _WALB_SRC_WH // ts, _WALB_SRC_WH // ts, ts
    )
    tf = proj.compose(
        proj.WebMercatorToLonLat(),
        proj.albers_forward_transform(*_WALB_PARAMS, f=proj.GRS80_F),
    )
    return warp_affine(
        tiles, _WALB_SRC_GT, _WALB_SRC_WH, _WALB_SRC_WH,
        _WALB_DST_GT, _WALB_DST_WH, _WALB_DST_WH,
        method="nearest", dst_block=32, src_tile_size=ts,
        transform=tf,
    )


def _warp_albers_oracle_sql() -> str:
    """Mirrors the composed kernel operation-for-operation: dst pixel
    center → 3857 metres → (lon, lat) via atan(sinh) → Snyder Albers
    forward with the SAME derived constants (n, C, rho0 computed once
    by proj.AlbersEqualArea and embedded as repr'd float64 literals)
    → src pixel floor via the exact inverse geotransform → formula
    value. Clearance ≥2.7e-4 px makes the floors ulp-robust."""
    from gdal_spark import proj, raster

    alb = proj.AlbersEqualArea(*_WALB_PARAMS, f=proj.GRS80_F)
    e, e2 = alb.e, alb.e2
    om_e2 = 1.0 - e2          # as the numpy kernel computes it
    hie = 1.0 / (2.0 * e)
    igt = raster.inv_gt(_WALB_SRC_GT)
    g = _WALB_DST_GT
    lon0 = float(np.radians(_WALB_PARAMS[3]))
    return f"""
        WITH dij AS (
          SELECT di.i AS di, dj.j AS dj
          FROM generate_series(0, {_WALB_DST_WH - 1}) AS di(i)
          CROSS JOIN generate_series(0, {_WALB_DST_WH - 1}) AS dj(j)),
        merc AS (
          SELECT di, dj,
                 {g[0]!r} + (di + 0.5e0) * {g[1]!r} AS mx,
                 {g[3]!r} + (dj + 0.5e0) * {g[5]!r} AS my
          FROM dij),
        ll AS (
          SELECT di, dj,
                 RADIANS(DEGREES(mx / 6378137e0)) AS lam,
                 RADIANS(DEGREES(ATAN(
                   (EXP(my / 6378137e0) - EXP(-(my / 6378137e0)))
                   / 2e0))) AS phi
          FROM merc),
        qq AS (
          SELECT di, dj, lam,
                 {om_e2!r} * (SIN(phi) / (1e0 - {e2!r} * SIN(phi)
                                          * SIN(phi))
                              - {hie!r} * LN((1e0 - {e!r} * SIN(phi))
                                             / (1e0 + {e!r} * SIN(phi))))
                   AS q
          FROM ll),
        rt AS (
          SELECT di, dj,
                 {alb.a!r} * SQRT({alb.C!r} - {alb.n!r} * q)
                   / {alb.n!r} AS rho,
                 {alb.n!r} * (lam - {lon0!r}) AS th
          FROM qq),
        en AS (
          SELECT di, dj,
                 rho * SIN(th) AS x,
                 {alb.rho0!r} - rho * COS(th) AS y
          FROM rt),
        px AS (SELECT di, dj,
                      CAST(FLOOR({igt[0]!r} + x * {igt[1]!r})
                           AS BIGINT) AS ix,
                      CAST(FLOOR({igt[3]!r} + y * {igt[5]!r})
                           AS BIGINT) AS iy
               FROM en)
        SELECT di, dj,
               CASE WHEN ix >= 0 AND ix < {_WALB_SRC_WH}
                     AND iy >= 0 AND iy < {_WALB_SRC_WH}
                    THEN (ix * 7 + iy * 13) % 251 ELSE -1 END AS val
        FROM px"""


_CONTOUR_N, _CONTOUR_TS, _CONTOUR_THR = 4, 64, 100


def _q_sp_idw_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IDW gridding with integer-quantized weights (gate-exact variant
    of the scatter-plan IDW; alg/gdalgrid.cpp:109)."""
    from gdal_spark.operators.grid import idw_grid_quantized

    pts = _doc_points(spark, sf_dir).withColumn(
        "z", (F.col("doc_id") % 997).cast("long")
    )
    return idw_grid_quantized(pts, res=5, z_col="z", radius_cells=1)


_IDW_ORACLE = f"""
    WITH pts AS ({DOC_PTS_SQL}),
    p AS (SELECT doc_id % 997 AS z, lon, lat,
            LEAST(GREATEST(CAST(FLOOR((lon + 180e0) / 360e0 * 32)
                                AS BIGINT), 0), 31) AS ix,
            LEAST(GREATEST(CAST(FLOOR((lat + 90e0) / 180e0 * 32)
                                AS BIGINT), 0), 31) AS iy
          FROM pts),
    s AS (SELECT z, lon, lat, ix + dx AS cell_ix, iy + dy AS cell_iy
          FROM p
          CROSS JOIN (VALUES (-1), (0), (1)) a(dx)
          CROSS JOIN (VALUES (-1), (0), (1)) b(dy)
          WHERE ix + dx BETWEEN 0 AND 31 AND iy + dy BETWEEN 0 AND 31),
    w AS (SELECT cell_ix, cell_iy, z,
            1000000000000 // (CAST(FLOOR(
              ((lon - ((cell_ix + 0.5e0) / 32 * 360e0 - 180e0))
               * (lon - ((cell_ix + 0.5e0) / 32 * 360e0 - 180e0))
               + (lat - ((cell_iy + 0.5e0) / 32 * 180e0 - 90e0))
               * (lat - ((cell_iy + 0.5e0) / 32 * 180e0 - 90e0)))
              * 1000000e0) AS BIGINT) + 1) AS wq
          FROM s),
    g AS (SELECT cell_ix, cell_iy, COUNT(*) AS n_points,
                 CAST(SUM(wq) AS BIGINT) AS sw,
                 CAST(SUM(z * wq) AS BIGINT) AS szw
          FROM w GROUP BY cell_ix, cell_iy)
    SELECT cell_ix, cell_iy, n_points,
           CAST((szw // sw) * 1000 + ((szw % sw) * 1000) // sw AS BIGINT)
             AS idw_m3
    FROM g"""


_NLINES = 30


def _lines_fixture() -> pd.DataFrame:
    """Deterministic line segments (half-integer pixel endpoints) on
    the 360x180 grid; line 0 vertical, line 1 horizontal."""
    rows = []
    for lid in range(_NLINES):
        def h(k: int) -> int:
            return (lid * 2654435761 + k * 40503 + 12345) % 2147483647

        x0 = (h(1) % 350) + 0.5
        y0 = (h(2) % 170) + 0.5
        x1 = (h(3) % 350) + 0.5
        y1 = (h(4) % 170) + 0.5
        if lid == 0:
            x1 = x0
        if lid == 1:
            y1 = y0
        rows.append({"line_id": lid, "x0": x0, "y0": y0,
                     "x1": x1, "y1": y1})
    return pd.DataFrame(rows)


def _q_rs_burn_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALL_TOUCHED line rasterization digest per line
    (GDALdllImageLineAllTouched, alg/llrasterize.cpp:233)."""
    from gdal_spark.operators.tiling import burn_lines_all_touched

    return burn_lines_all_touched(
        spark, _lines_fixture(), 360, 180, tile_size=64
    )


_TIN_N = 48
_TIN_GRID = 64


def _tin_points() -> pd.DataFrame:
    """Deterministic integer scattered points (x, y in [4, 252], z in
    [0, 1000)) for the linear-interpolation fixture."""
    seen = set()
    rows = []
    for k in range(200):
        x = 4 + (k * 2654435761 + 17) % 249
        y = 4 + (k * 2246822519 + 5) % 249
        if (x, y) in seen:
            continue
        seen.add((x, y))
        rows.append({"x": float(x), "y": float(y),
                     "z": float((k * 69069 + 11) % 1000)})
        if len(rows) == _TIN_N:
            break
    return pd.DataFrame(rows)


def _q_rs_grid_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear (Delaunay/TIN) interpolation with NO driver-side stage
    (alg/gdalgrid.cpp:2459, alg/delaunay.c): distributed per-cell
    Delaunay (halo gather + circumcircle-containment certification +
    halo-doubling escalation) feeding bucket-local barycentric fill —
    byte-identical to the broadcast tin_grid path (pinned in
    tests/test_tin.py), which gdal_grid's whole-set-in-memory model
    cannot scale past one machine."""
    from gdal_spark.operators.grid import tin_grid_distributed

    pdf = _tin_points().copy()
    pdf.insert(0, "id", range(len(pdf)))
    return tin_grid_distributed(
        spark, spark.createDataFrame(pdf), _TIN_GRID, _TIN_GRID,
        0.0, 0.0, 4.0, cell_size=64.0,
    )


def _grid_linear_oracle_sql() -> str:
    from gdal_spark.operators.grid import delaunay_triangulate

    pdf = _tin_points()
    P = pdf[["x", "y"]].to_numpy()
    Z = pdf["z"].to_numpy()
    tris = delaunay_triangulate(P)
    vals = ", ".join(
        f"({tid}, {P[a][0]!r}, {P[a][1]!r}, {Z[a]!r},"
        f" {P[b][0]!r}, {P[b][1]!r}, {Z[b]!r},"
        f" {P[c][0]!r}, {P[c][1]!r}, {Z[c]!r})"
        for tid, (a, b, c) in enumerate(tris)
    )
    det = "((tbx - tax) * (tcy - tay) - (tby - tay) * (tcx - tax))"
    return f"""
        WITH g AS (
          SELECT CAST(a.gx AS BIGINT) AS gx, CAST(b.gy AS BIGINT) AS gy
          FROM generate_series(0, {_TIN_GRID - 1}) a(gx)
          CROSS JOIN generate_series(0, {_TIN_GRID - 1}) b(gy)),
        px AS (
          SELECT gx, gy,
                 (0e0 + (gx + 0.5e0) * 4e0) AS pxc,
                 (0e0 + (gy + 0.5e0) * 4e0) AS pyc
          FROM g),
        tri(tid, tax, tay, taz, tbx, tby, tbz, tcx, tcy, tcz)
          AS (VALUES {vals}),
        w AS (
          SELECT gx, gy, tid, taz, tbz, tcz,
                 ((tby - tcy) * (pxc - tcx) + (tcx - tbx) * (pyc - tcy))
                   / {det} AS wa,
                 ((tcy - tay) * (pxc - tcx) + (tax - tcx) * (pyc - tcy))
                   / {det} AS wb
          FROM px CROSS JOIN tri),
        i AS (SELECT * FROM w
              WHERE wa >= 0 AND wb >= 0 AND wa + wb <= 1),
        m AS (SELECT gx, gy, MIN(tid) AS tid FROM i GROUP BY gx, gy)
        SELECT i.gx, i.gy,
               CAST(FLOOR((wa * taz + wb * tbz + (1e0 - wa - wb) * tcz)
                          * 1000e0 + 0.5) AS BIGINT) AS z_q3
        FROM i JOIN m ON i.gx = m.gx AND i.gy = m.gy AND i.tid = m.tid"""


def _q_rs_overview_resamplers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overview resamplers beyond NEAREST/AVERAGE: MODE, RMS (2x2) and
    GAUSS (3x3 binomial via halo exchange) — gcore/overview.cpp:1842,
    2163-2429, RMS path — checksummed per output tile."""
    from gdal_spark.operators.tiling import (
        formula_tiles, overview_level, tile_checksums,
    )

    tiles = formula_tiles(spark, 4, 4, 64)
    parts = [
        tile_checksums(overview_level(tiles, m)).withColumn(
            "method", F.lit(m)
        )
        for m in ("mode", "rms", "gauss")
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.select("method", "tx", "ty", "cks")


def _overview_resamplers_oracle_sql() -> str:
    n = 256  # source grid; reduced grid 128², output tiles 2x2 of 64
    f = "(({x}) * 7 + ({y}) * 13) % 251"
    fz = (
        f"CASE WHEN ({{x}}) BETWEEN 0 AND {n - 1}"
        f" AND ({{y}}) BETWEEN 0 AND {n - 1}"
        f" THEN {f} ELSE 0 END"
    )
    c = [f.format(x="2*gx", y="2*gy"), f.format(x="2*gx + 1", y="2*gy"),
         f.format(x="2*gx", y="2*gy + 1"),
         f.format(x="2*gx + 1", y="2*gy + 1")]
    cnt = [
        "(" + " + ".join(
            f"CASE WHEN ({c[j]}) = ({c[i]}) THEN 1 ELSE 0 END"
            for j in range(4)
        ) + ")"
        for i in range(4)
    ]
    maxcnt = f"GREATEST({cnt[0]}, {cnt[1]}, {cnt[2]}, {cnt[3]})"
    mode = "LEAST(" + ", ".join(
        f"CASE WHEN {cnt[i]} = {maxcnt} THEN ({c[i]}) ELSE 9999 END"
        for i in range(4)
    ) + ")"
    rms = (
        f"CAST(FLOOR(SQRT((({c[0]}) * ({c[0]}) + ({c[1]}) * ({c[1]})"
        f" + ({c[2]}) * ({c[2]}) + ({c[3]}) * ({c[3]})) / 4e0) + 0.5)"
        " AS BIGINT)"
    )
    g = [
        (1, "2*gx - 1", "2*gy - 1"), (2, "2*gx", "2*gy - 1"),
        (1, "2*gx + 1", "2*gy - 1"),
        (2, "2*gx - 1", "2*gy"), (4, "2*gx", "2*gy"),
        (2, "2*gx + 1", "2*gy"),
        (1, "2*gx - 1", "2*gy + 1"), (2, "2*gx", "2*gy + 1"),
        (1, "2*gx + 1", "2*gy + 1"),
    ]
    gsum = " + ".join(f"{w} * ({fz.format(x=x, y=y)})" for w, x, y in g)
    gauss = f"(({gsum}) + 8) // 16"

    def level(method: str, vexpr: str) -> str:
        return f"""
        SELECT '{method}' AS method,
               gx // 64 AS tx, gy // 64 AS ty,
               CAST(SUM(({vexpr}) * (((gy % 64) * 64 + (gx % 64)) % 11 + 1))
                    % 2147483648 AS BIGINT) AS cks
        FROM rg GROUP BY gx // 64, gy // 64"""

    return f"""
        WITH rg AS (
          SELECT CAST(a.gx AS BIGINT) AS gx, CAST(b.gy AS BIGINT) AS gy
          FROM generate_series(0, {n // 2 - 1}) a(gx)
          CROSS JOIN generate_series(0, {n // 2 - 1}) b(gy))
        {level('mode', mode)}
        UNION ALL {level('rms', rms)}
        UNION ALL {level('gauss', gauss)}"""


_WAGG_N = 16
_WAGG_DST_GT = (440720.0, 480.0, 0.0, 3751320.0, 0.0, -480.0)


def _q_rs_warp_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Warp-time aggregates (GRA_Average/Mode/Min/Max/Med/Q1/Q3/Sum):
    16x16 dst grid, each pixel aggregating an 8x8 block of formula-
    raster src centers via the distributed value-histogram plan."""
    from gdal_spark.operators.tiling import formula_tiles, warp_aggregate

    tiles = formula_tiles(spark, 2, 2, 64)
    return warp_aggregate(
        tiles, _WARP_SRC_GT, _WAGG_DST_GT, _WAGG_N, _WAGG_N
    )


def _warp_aggregate_oracle_sql() -> str:
    g0, g1, _, g3, _, g5 = _WARP_SRC_GT
    d0, d1, _, d3, _, d5 = _WAGG_DST_GT
    n = _WAGG_N
    # mirror the engine's forward map exactly: gx = g0 + (sx+0.5)*g1,
    # dpx = (gx - d0)/d1 — no algebraic simplification
    di = (
        f"CAST(FLOOR((({g0!r} + (x + 0.5e0) * {g1!r}) - {d0!r})"
        f" / {d1!r}) AS BIGINT)"
    )
    dj = (
        f"CAST(FLOOR((({g3!r} + (y + 0.5e0) * {g5!r}) - {d3!r})"
        f" / {d5!r}) AS BIGINT)"
    )
    return f"""
        WITH px AS (
          SELECT CAST(a.x AS BIGINT) AS x, CAST(b.y AS BIGINT) AS y
          FROM generate_series(0, {_WARP_SRC_WH - 1}) a(x)
          CROSS JOIN generate_series(0, {_WARP_SRC_WH - 1}) b(y)),
        v AS (
          SELECT {di} AS di, {dj} AS dj, (x * 7 + y * 13) % 251 AS val
          FROM px),
        hist AS (
          SELECT di, dj, val, COUNT(*) AS cnt FROM v
          WHERE di >= 0 AND di < {n} AND dj >= 0 AND dj < {n}
          GROUP BY di, dj, val),
        h2 AS (
          SELECT di, dj, val, cnt,
                 SUM(cnt) OVER (PARTITION BY di, dj ORDER BY val
                                ROWS UNBOUNDED PRECEDING) AS run,
                 SUM(cnt) OVER (PARTITION BY di, dj) AS tot,
                 MAX(cnt) OVER (PARTITION BY di, dj) AS maxcnt
          FROM hist),
        h3 AS (
          SELECT *, (tot + 1) // 2 AS lo, tot // 2 + 1 AS hi,
                 (tot - 1) // 4 + 1 AS p1, 3 * (tot - 1) // 4 + 1 AS p3
          FROM h2)
        SELECT di, dj,
               CAST(MAX(tot) AS BIGINT) AS n,
               CAST(SUM(val * cnt) AS BIGINT) AS sum_v,
               CAST(MIN(val) AS BIGINT) AS min_v,
               CAST(MAX(val) AS BIGINT) AS max_v,
               CAST(MIN(CASE WHEN cnt = maxcnt THEN val END) AS BIGINT)
                 AS mode_v,
               CAST(MIN(CASE WHEN run >= lo THEN val END)
                    + MIN(CASE WHEN run >= hi THEN val END) AS BIGINT)
                 AS med2,
               CAST(MIN(CASE WHEN run >= p1 THEN val END) AS BIGINT)
                 AS q1_v,
               CAST(MIN(CASE WHEN run >= p3 THEN val END) AS BIGINT)
                 AS q3_v,
               CAST(FLOOR(SUM(val * cnt) * 256e0 / MAX(tot) + 0.5)
                    AS BIGINT) AS avg_q8
        FROM h3 GROUP BY di, dj"""


_CONTOUR_LEVELS = [64, 100, 160]


def _q_rs_contour_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marching-squares polyline SEGMENTS (interpolated geometry, not
    just the case census) per level: count + quantized length sum."""
    from gdal_spark.operators.tiling import (
        contour_level_stats, contour_segments, formula_tiles,
    )

    n, ts = _CONTOUR_N, _CONTOUR_TS
    tiles = formula_tiles(spark, n, n, ts)
    segs = contour_segments(tiles, n * ts, n * ts, _CONTOUR_LEVELS)
    return contour_level_stats(segs)


_CPOLY_LEVELS = (40, 100, 160, 220)


def _q_rs_contour_polygons(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contour POLYGON mode (gdal_contour -p, alg/contour.cpp +
    marching_squares/polygon_ring_appender.h): interpolated area of
    {surface >= level} per level, assembled from per-cell band
    polygons; quantized per cell → summation-order-free exact."""
    from gdal_spark.operators.tiling import (
        contour_polygon_areas, formula_tiles,
    )

    n, ts = _CONTOUR_N, _CONTOUR_TS
    tiles = formula_tiles(spark, n, n, ts)
    return contour_polygon_areas(
        tiles, n * ts, n * ts, list(_CPOLY_LEVELS)
    )


def _contour_polygons_oracle_sql() -> str:
    """Per-cell band-polygon shoelace with the identical coordinate
    and term expressions as the engine kernel (bit-for-bit doubles →
    identical per-cell quantized areas)."""
    from gdal_spark.operators.tiling import _BAND_CASES, _BAND_SADDLE

    n = _CONTOUR_N * _CONTOUR_TS
    levels = ", ".join(f"({lv})" for lv in _CPOLY_LEVELS)
    E = {
        "C0": ("CAST(x AS DOUBLE)", "CAST(y AS DOUBLE)"),
        "C1": ("(x + 1e0)", "CAST(y AS DOUBLE)"),
        "C2": ("(x + 1e0)", "(y + 1e0)"),
        "C3": ("CAST(x AS DOUBLE)", "(y + 1e0)"),
        "B": ("(x + (level - v00) / (v10 - v00))", "CAST(y AS DOUBLE)"),
        "R": ("(x + 1e0)", "(y + (level - v10) / (v11 - v10))"),
        "T": ("(x + (level - v01) / (v11 - v01))", "(y + 1e0)"),
        "L": ("CAST(x AS DOUBLE)", "(y + (level - v00) / (v01 - v00))"),
    }

    def ring_q(ring):
        terms = []
        m = len(ring)
        for i in range(m):
            xi, yi = E[ring[i]]
            xj, yj = E[ring[(i + 1) % m]]
            terms.append(f"({xi} * {yj} - {xj} * {yi})")
        s = " + ".join(terms)
        return (
            f"CAST(FLOOR(ABS({s}) * 0.5e0 * 1e8 + 0.5) AS BIGINT)"
        )

    whens = []
    for c, rings in _BAND_CASES.items():
        for slot, ring in enumerate(rings):
            whens.append(
                f"WHEN slot = {slot} AND cc = {c} THEN {ring_q(ring)}"
            )
    for (c, hi), rings in _BAND_SADDLE.items():
        hc = "hi" if hi else "NOT hi"
        for slot, ring in enumerate(rings):
            whens.append(
                f"WHEN slot = {slot} AND cc = {c} AND {hc}"
                f" THEN {ring_q(ring)}"
            )
    area_case = "CASE " + " ".join(whens) + " ELSE NULL END"
    bit = "CASE WHEN {v} >= level THEN 1 ELSE 0 END"
    return f"""
        WITH cl(level) AS (VALUES {levels}),
        g AS (
          SELECT CAST(a.x AS BIGINT) AS x, CAST(b.y AS BIGINT) AS y
          FROM generate_series(0, {n - 2}) a(x)
          CROSS JOIN generate_series(0, {n - 2}) b(y)),
        c AS (
          SELECT level, x, y,
                 (x * 7 + y * 13) % 251 AS v00,
                 ((x + 1) * 7 + y * 13) % 251 AS v10,
                 ((x + 1) * 7 + (y + 1) * 13) % 251 AS v11,
                 (x * 7 + (y + 1) * 13) % 251 AS v01
          FROM g CROSS JOIN cl),
        d AS (
          SELECT *,
                 {bit.format(v='v00')} + 2 * {bit.format(v='v10')}
                 + 4 * {bit.format(v='v11')} + 8 * {bit.format(v='v01')}
                   AS cc,
                 (v00 + v10 + v11 + v01 >= 4 * level) AS hi
          FROM c),
        s AS (
          SELECT level, {area_case} AS aq
          FROM d CROSS JOIN (VALUES (0), (1)) sl(slot))
        SELECT level, CAST(SUM(aq) AS BIGINT) AS area_q8
        FROM s WHERE aq IS NOT NULL
        GROUP BY level"""


_PIXFN_EXPR = (
    "if(A > B, sqrt(A * B), (A - B) / (A + B + 1))"
    " + clip(log10(A + 1), 0, 2)"
)
_PIXFN_TS, _PIXFN_N = 32, 2  # 64x64 derived raster


def _q_rs_vrt_pixfn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VRT derived band through the muparser-style expression surface
    (frmts/vrt/pixelfunctions.cpp:2757 ExprPixelFunc; builtin registry
    :3852; vrtderivedrasterband.cpp source assembly): band A = the
    formula fixture, band B = its 255-complement, an expression
    exercising arithmetic, comparison, if/clip and log10. ONE tile-key
    shuffle (pixfn.derived_tiles); µ-quantized pixels; the oracle is
    the SAME parse tree rendered to SQL by pixfn.to_sql, so Spark and
    DuckDB evaluate one expression source."""
    from gdal_spark import pixfn
    from gdal_spark.operators.tiling import formula_tiles

    ts, n = _PIXFN_TS, _PIXFN_N
    a = formula_tiles(spark, n, n, ts)

    def inv(batches):
        for pdf in batches:
            pdf = pdf.copy()
            pdf["data"] = pdf["data"].map(
                lambda by: bytes(255 - np.frombuffer(by, np.uint8))
            )
            yield pdf

    b = formula_tiles(spark, n, n, ts).mapInPandas(inv, a.schema)
    tiles = pixfn.derived_tiles({"A": a, "B": b}, _PIXFN_EXPR)

    def explode(batches):
        for pdf in batches:
            outs = []
            for _, r in pdf.iterrows():
                w, h = int(r["w"]), int(r["h"])
                v = np.frombuffer(r["data"], np.float64).reshape(h, w)
                gx = (
                    int(r["tx"]) * ts
                    + np.tile(np.arange(w, dtype=np.int64), h)
                )
                gy = (
                    int(r["ty"]) * ts
                    + np.repeat(np.arange(h, dtype=np.int64), w)
                )
                outs.append(pd.DataFrame({
                    "gx": gx,
                    "gy": gy,
                    "val_q6": np.floor(
                        v.ravel() * 1e6 + 0.5
                    ).astype(np.int64),
                }))
            yield pd.concat(outs, ignore_index=True)

    return tiles.mapInPandas(explode, "gx long, gy long, val_q6 long")


def _vrt_pixfn_oracle_sql() -> str:
    from gdal_spark import pixfn

    expr = pixfn.to_sql(_PIXFN_EXPR, {"A": "a", "B": "b"})
    side = _PIXFN_TS * _PIXFN_N - 1
    return f"""
        WITH px AS (
          SELECT s.gx, t.gy
          FROM generate_series(0, {side}) s(gx),
               generate_series(0, {side}) t(gy)),
        bands AS (
          SELECT gx, gy,
                 CAST((gx * 7 + gy * 13) % 251 AS DOUBLE) AS a,
                 CAST(255 - (gx * 7 + gy * 13) % 251 AS DOUBLE) AS b
          FROM px)
        SELECT gx, gy,
               CAST(FLOOR(({expr}) * 1e6 + 0.5) AS BIGINT) AS val_q6
        FROM bands"""


def _strips_dots_tiles(spark, n_tiles: int = 4, ts: int = 64):
    """Shared polygonize/sieve fixture with a CLOSED-FORM region
    decomposition: the thresholded formula raster v=(7x+13y)%251 < 64
    is a union of diagonal strips — each 4-connected component is
    exactly one (band=(7x+13y)//251, value) class (verified by flood
    fill) — plus isolated single-pixel "dots" on a sparse lattice
    (x%16==8, y%16==8) value-margin-guaranteed interior to the
    value-0 strips (84 ≤ v < 231 keeps every 4- and 8-neighbor in
    [64,251)). Dots are 1-px value-1 regions AND holes of their
    value-0 strip, so region stats, hole counts, and sieve outcomes
    are all expressible in plain SQL."""
    import pandas as pd_

    from gdal_spark.operators.tiling import TILE_SCHEMA, formula_tiles

    def build(batches):
        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                w, h = int(r["w"]), int(r["h"])
                arr = np.frombuffer(r["data"], dtype=np.uint8).reshape(h, w)
                tx, ty = int(r["tx"]), int(r["ty"])
                gx = tx * w + np.arange(w)[None, :]
                gy = ty * h + np.arange(h)[:, None]
                dots = (
                    (gx % 16 == 8) & (gy % 16 == 8)
                    & (arr >= 84) & (arr < 231)
                )
                out = ((arr < 64) | dots).astype(np.uint8)
                rows.append((0, tx, ty, w, h, out.tobytes()))
            yield pd_.DataFrame(
                rows, columns=["z", "tx", "ty", "w", "h", "data"]
            )

    return formula_tiles(spark, n_tiles, n_tiles, ts).mapInPandas(
        build, TILE_SCHEMA
    )


def _q_rs_polygonize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strips+dots raster → connected regions across tiles with REAL
    boundary-ring geometry (outer + holes, traced from boundary edges
    — the full GDALPolygonize contract, alg/polygonize.cpp:73).
    Value-exact: every region's (value, n_pixels, n_holes) has the
    closed-form band/dot oracle of _strips_dots_tiles."""
    from gdal_spark.operators.tiling import polygonize_rings

    tiles = _strips_dots_tiles(spark)
    return polygonize_rings(tiles).select("value", "n_pixels", "n_holes")


_POLYGONIZE_ORACLE = """
    WITH px AS (
      SELECT a.x AS x, b.y AS y
      FROM generate_series(0, 255) a(x)
      CROSS JOIN generate_series(0, 255) b(y)),
    c AS (SELECT x, y, (7*x + 13*y) % 251 AS v,
                 (7*x + 13*y) // 251 AS band
          FROM px),
    dot AS (SELECT * FROM c
            WHERE x % 16 = 8 AND y % 16 = 8 AND v >= 84 AND v < 231),
    s1 AS (SELECT band, COUNT(*) AS n FROM c WHERE v < 64 GROUP BY band),
    d AS (SELECT band, COUNT(*) AS nd FROM dot GROUP BY band),
    s0 AS (SELECT band, COUNT(*) AS n FROM c WHERE v >= 64 GROUP BY band)
    SELECT CAST(value AS BIGINT) AS value,
           CAST(n_pixels AS BIGINT) AS n_pixels,
           CAST(n_holes AS BIGINT) AS n_holes
    FROM (
      SELECT 1 AS value, n AS n_pixels, 0 AS n_holes FROM s1
      UNION ALL
      SELECT 1, 1, 0 FROM dot
      UNION ALL
      SELECT 0, s0.n - COALESCE(d.nd, 0), COALESCE(d.nd, 0)
      FROM s0 LEFT JOIN d ON s0.band = d.band
    )"""


_PROX_N, _PROX_TS, _PROX_MAXD = 2, 64, 30


def _q_rs_proximity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distance raster to the nearest formula-zero pixel, bounded
    (GDALComputeProximity + MAXDIST), via iterative halo relaxation."""
    import pandas as pd_

    from gdal_spark.operators.tiling import (
        TILE_SCHEMA, formula_tiles, proximity_d2,
    )

    def binarize(batches):
        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                arr = np.frombuffer(r["data"], dtype=np.uint8).reshape(
                    int(r["h"]), int(r["w"])
                )
                rows.append(
                    (0, int(r["tx"]), int(r["ty"]), int(r["w"]), int(r["h"]),
                     (arr == 0).astype(np.uint8).tobytes())
                )
            yield pd_.DataFrame(
                rows, columns=["z", "tx", "ty", "w", "h", "data"]
            )

    tiles = formula_tiles(spark, _PROX_N, _PROX_N, _PROX_TS).mapInPandas(
        binarize, TILE_SCHEMA
    )
    return proximity_d2(tiles, _PROX_MAXD, _PROX_TS)


def _proximity_oracle_sql() -> str:
    n = _PROX_N * _PROX_TS
    d = _PROX_MAXD
    return f"""
        WITH px AS (
          SELECT CAST(a.x AS BIGINT) AS x, CAST(b.y AS BIGINT) AS y
          FROM generate_series(0, {n - 1}) a(x)
          CROSS JOIN generate_series(0, {n - 1}) b(y)),
        t AS (SELECT x, y FROM px WHERE (x * 7 + y * 13) % 251 = 0)
        SELECT p.x AS gx, p.y AS gy,
               MIN((p.x - t.x) * (p.x - t.x) + (p.y - t.y) * (p.y - t.y))
                 AS d2
        FROM px p CROSS JOIN t
        GROUP BY p.x, p.y
        HAVING MIN((p.x - t.x) * (p.x - t.x) + (p.y - t.y) * (p.y - t.y))
               <= {d * d}"""


def _q_rs_sieve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sieve the strips+dots raster (GDALSieveFilter semantics,
    alg/gdalsievefilter.cpp) and checksum the cleaned tiles.
    Value-exact: with threshold=8 the sieve must remove every 1-px
    dot (merging it into its surrounding value-0 strip) AND the one
    4-px value-0 corner region (band 20, merged into its only
    neighbor, the value-1 band-20 strip) — so the cleaned raster has
    the closed-form val = (v<64 OR 7x+13y>=5084), checksummed per
    tile in SQL."""
    from gdal_spark.operators.tiling import sieve, tile_checksums

    tiles = _strips_dots_tiles(spark)
    return tile_checksums(sieve(tiles, threshold=8))


_SIEVE_ORACLE = """
    WITH px AS (
      SELECT a.x AS x, b.y AS y
      FROM generate_series(0, 255) a(x)
      CROSS JOIN generate_series(0, 255) b(y)),
    c AS (SELECT x, y,
                 CASE WHEN (7*x + 13*y) % 251 < 64
                        OR (7*x + 13*y) >= 5084
                      THEN 1 ELSE 0 END AS val,
                 (y % 64) * 64 + (x % 64) AS idx
          FROM px)
    SELECT CAST(0 AS INTEGER) AS z,
           CAST(x // 64 AS BIGINT) AS tx,
           CAST(y // 64 AS BIGINT) AS ty,
           CAST(SUM(val * (idx % 11 + 1)) % 2147483648 AS BIGINT) AS cks
    FROM c GROUP BY x // 64, y // 64"""


_STATS_N, _STATS_TS, _STATS_BUCKETS = 8, 64, 16


def _q_rs_band_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GDALRasterBand::GetHistogram / ComputeStatistics analog
    (gcore/gdalrasterband.cpp:4133,6478): exact per-bucket histogram +
    moment partials over the formula raster. One mapInPandas partial
    per tile (O(tiles x buckets) shuffle rows, never pixels), one
    groupBy(bucket) combine."""
    from gdal_spark.operators.stats import band_histogram
    from gdal_spark.operators.tiling import formula_tiles

    tiles = formula_tiles(spark, _STATS_N, _STATS_N, _STATS_TS)
    return band_histogram(tiles, 0.0, 256.0, _STATS_BUCKETS)


def _band_stats_oracle_sql() -> str:
    n = _STATS_N * _STATS_TS
    width = 256 // _STATS_BUCKETS
    return f"""
        WITH px AS (
          SELECT a.x AS x, b.y AS y
          FROM generate_series(0, {n - 1}) a(x)
          CROSS JOIN generate_series(0, {n - 1}) b(y)),
        v AS (SELECT (x * 7 + y * 13) % 251 AS v FROM px)
        SELECT CAST(v // {width} AS BIGINT) AS bucket,
               COUNT(*) AS cnt,
               CAST(SUM(v) AS BIGINT) AS sum_v,
               CAST(SUM(v * v) AS BIGINT) AS sumsq_v,
               CAST(MIN(v) AS BIGINT) AS min_v,
               CAST(MAX(v) AS BIGINT) AS max_v
        FROM v GROUP BY bucket"""


_FOCAL_N, _FOCAL_TS = 4, 64


def _q_rs_dem_focal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdaldem TPI + roughness (apps/gdaldem_lib.cpp:2352-2420,
    exact-integer x8 variant) over the formula raster: one halo
    exchange, per-tile numpy kernels, then per-tile (sum, min, max)
    aggregates. Grid-edge pixels see add_halo's zero fill — the oracle
    zero-pads the generator the same way, so the match is raster-wide
    exact, edges included."""
    import pandas as pd_

    from gdal_spark.operators.dem import dem_focal
    from gdal_spark.operators.tiling import formula_tiles

    tiles = formula_tiles(spark, _FOCAL_N, _FOCAL_N, _FOCAL_TS)
    schema = ("mode string, tx long, ty long, "
              "sum_v long, min_v long, max_v long")

    def tile_agg(mode):
        def agg(batches):
            for pdf in batches:
                rows = []
                for _, r in pdf.iterrows():
                    a = np.frombuffer(r["data"], dtype=np.int32)
                    rows.append(
                        (mode, int(r["tx"]), int(r["ty"]),
                         int(a.sum()), int(a.min()), int(a.max()))
                    )
                yield pd_.DataFrame(
                    rows,
                    columns=["mode", "tx", "ty", "sum_v", "min_v", "max_v"],
                )
        return agg

    parts = [
        dem_focal(tiles, mode).mapInPandas(tile_agg(mode), schema)
        for mode in ("tpi8", "roughness")
    ]
    return parts[0].unionByName(parts[1])


def _dem_focal_oracle_sql() -> str:
    n = _FOCAL_N * _FOCAL_TS
    ts = _FOCAL_TS
    return f"""
        WITH px AS (
          SELECT a.x AS x, b.y AS y
          FROM generate_series(0, {n - 1}) a(x)
          CROSS JOIN generate_series(0, {n - 1}) b(y)),
        o(dy, dx) AS (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,0),
                             (0,1),(1,-1),(1,0),(1,1)),
        w AS (
          SELECT p.x, p.y, o.dy, o.dx,
                 CASE WHEN p.x + o.dx BETWEEN 0 AND {n - 1}
                       AND p.y + o.dy BETWEEN 0 AND {n - 1}
                      THEN ((p.x + o.dx) * 7 + (p.y + o.dy) * 13) % 251
                      ELSE 0 END AS fv
          FROM px p CROSS JOIN o),
        m AS (
          SELECT x, y,
                 SUM(CASE WHEN dx = 0 AND dy = 0 THEN 8 * fv
                          ELSE -fv END) AS tpi8,
                 MAX(fv) - MIN(fv) AS rough
          FROM w GROUP BY x, y)
        SELECT 'tpi8' AS mode, x // {ts} AS tx, y // {ts} AS ty,
               CAST(SUM(tpi8) AS BIGINT) AS sum_v,
               CAST(MIN(tpi8) AS BIGINT) AS min_v,
               CAST(MAX(tpi8) AS BIGINT) AS max_v
        FROM m GROUP BY mode, tx, ty
        UNION ALL
        SELECT 'roughness' AS mode, x // {ts} AS tx, y // {ts} AS ty,
               CAST(SUM(rough) AS BIGINT) AS sum_v,
               CAST(MIN(rough) AS BIGINT) AS min_v,
               CAST(MAX(rough) AS BIGINT) AS max_v
        FROM m GROUP BY mode, tx, ty"""


_VS_N, _VS_TS = 4, 64
_VS_OX, _VS_OY, _VS_H = 100, 80, 5


def _q_rs_viewshed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdal_viewshed analog (alg/viewshed/viewshed.cpp), exact lattice
    line-of-sight variant: per-ray (primitive-direction) window
    prefix-max over pixel rows — ONE shuffle, no driver role, the
    per-ray scan is inherent to LOS. Per-tile visible-count +
    position checksum digest."""
    from gdal_spark.operators.tiling import formula_tiles
    from gdal_spark.operators.viewshed import (
        viewshed_cells, viewshed_tile_summary,
    )

    tiles = formula_tiles(spark, _VS_N, _VS_N, _VS_TS)
    cells = viewshed_cells(tiles, _VS_OX, _VS_OY, _VS_H)
    return viewshed_tile_summary(cells, _VS_TS)


def _viewshed_oracle_sql() -> str:
    n = _VS_N * _VS_TS
    # z0 = terrain at the observer + eye height; terrain is the
    # formula raster, so (ox*7 + oy*13) % 251 + obs_height
    z0 = (_VS_OX * 7 + _VS_OY * 13) % 251 + _VS_H
    return f"""
        WITH px AS (
          SELECT a.x AS x, b.y AS y
          FROM generate_series(0, {n - 1}) a(x)
          CROSS JOIN generate_series(0, {n - 1}) b(y)),
        v AS (SELECT x, y, (x * 7 + y * 13) % 251 AS val FROM px),
        rel AS (
          SELECT x, y, val, x - {_VS_OX} AS rx, y - {_VS_OY} AS ry
          FROM v WHERE NOT (x = {_VS_OX} AND y = {_VS_OY})),
        r AS (SELECT x, y, val, rx, ry,
                     gcd(abs(rx), abs(ry)) AS g FROM rel),
        s AS (SELECT x, y, rx // g AS dx, ry // g AS dy, g AS step,
                     CAST(val - {z0} AS DOUBLE) / CAST(g AS DOUBLE)
                       AS ratio
              FROM r),
        m AS (SELECT x, y, ratio,
                     MAX(ratio) OVER (
                       PARTITION BY dx, dy ORDER BY step
                       ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING) AS pm
              FROM s),
        c AS (SELECT x, y,
                     CASE WHEN pm IS NULL OR ratio >= pm
                          THEN 1 ELSE 0 END AS vis
              FROM m)
        SELECT x // {_VS_TS} AS tx, y // {_VS_TS} AS ty,
               CAST(SUM(vis) AS BIGINT) AS n_visible,
               CAST(SUM(vis * (x * 31 + y * 17)) AS BIGINT) AS vis_cks
        FROM c GROUP BY tx, ty"""


def _q_rs_fill_all_touched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polygon ALL_TOUCHED rasterization (alg/gdalrasterize.cpp
    :779-817): interior center-fill PLUS every cell the boundary
    touches (GDALdllImageLineAllTouched sweep over ring edges)."""
    from gdal_spark.operators.tiling import rasterize_polygons_count

    return rasterize_polygons_count(
        spark, _polygons_pdf(), 360, 180, -180.0, 90.0, 1.0, -1.0,
        tile_size=64, all_touched=True,
    )


def _fill_all_touched_oracle_sql() -> str:
    """Center-inside cells (even-odd ray cast) UNION the per-edge
    x-major column-sweep cells, in pixel coords px = x + 180,
    py = 90 − y (exact for the 1° grid)."""
    return f"""
        WITH px AS (
          SELECT -180e0 + (CAST(a.i AS BIGINT) + 0.5e0) AS cx,
                 90e0 - (CAST(b.j AS BIGINT) + 0.5e0) AS cy
          FROM generate_series(0, 359) a(i)
          CROSS JOIN generate_series(0, 179) b(j)),
        edges(poly_id, x1, y1, x2, y2) AS (VALUES {_edges_values_sql()}),
        crossings AS (
          SELECT p.cx, p.cy, e.poly_id,
            CASE WHEN (((e.y1 - p.cy) > 0 AND (e.y2 - p.cy) <= 0)
                    OR ((e.y2 - p.cy) > 0 AND (e.y1 - p.cy) <= 0))
                  AND ((e.x1 - p.cx) * (e.y2 - p.cy)
                     - (e.x2 - p.cx) * (e.y1 - p.cy))
                      / ((e.y2 - p.cy) - (e.y1 - p.cy)) > 0
            THEN 1 ELSE 0 END AS c
          FROM px p CROSS JOIN edges e),
        icells AS (
          SELECT poly_id,
                 CAST(cx + 180e0 - 0.5e0 AS BIGINT) AS c,
                 CAST(90e0 - cy - 0.5e0 AS BIGINT) AS r
          FROM crossings
          GROUP BY cx, cy, poly_id HAVING SUM(c) % 2 = 1),
        pe AS (
          SELECT poly_id,
                 (x1 - -180e0) / 1e0 AS ex0, (y1 - 90e0) / -1e0 AS ey0,
                 (x2 - -180e0) / 1e0 AS ex1, (y2 - 90e0) / -1e0 AS ey1
          FROM edges),
        nrm AS (
          SELECT poly_id,
                 CASE WHEN ex0 <= ex1 THEN ex0 ELSE ex1 END AS x0,
                 CASE WHEN ex0 <= ex1 THEN ey0 ELSE ey1 END AS y0,
                 CASE WHEN ex0 <= ex1 THEN ex1 ELSE ex0 END AS x1,
                 CASE WHEN ex0 <= ex1 THEN ey1 ELSE ey0 END AS y1
          FROM pe),
        cols AS (
          SELECT poly_id, x0, y0, x1, y1, CAST(t.c AS BIGINT) AS c
          FROM nrm CROSS JOIN generate_series(0, 359) t(c)
          WHERE t.c >= GREATEST(CAST(FLOOR(x0) AS BIGINT), 0)
            AND t.c <= LEAST(CAST(FLOOR(x1) AS BIGINT), 359)),
        spans AS (
          SELECT poly_id, c,
                 CASE WHEN x1 = x0 THEN y0
                      ELSE y0 + (GREATEST(CAST(c AS DOUBLE), x0) - x0)
                               * (y1 - y0) / (x1 - x0) END AS ya,
                 CASE WHEN x1 = x0 THEN y1
                      ELSE y0 + (LEAST(CAST(c + 1 AS DOUBLE), x1) - x0)
                               * (y1 - y0) / (x1 - x0) END AS yb
          FROM cols),
        rng AS (
          SELECT poly_id, c,
                 GREATEST(CAST(FLOOR(LEAST(ya, yb)) AS BIGINT), 0) AS r0,
                 LEAST(CAST(FLOOR(GREATEST(ya, yb)) AS BIGINT), 179) AS r1
          FROM spans),
        ecells AS (
          SELECT poly_id, c, CAST(t.r AS BIGINT) AS r
          FROM rng CROSS JOIN generate_series(0, 179) t(r)
          WHERE t.r >= r0 AND t.r <= r1),
        allc AS (
          SELECT poly_id, c, r FROM icells
          UNION
          SELECT poly_id, c, r FROM ecells)
        SELECT poly_id, COUNT(*) AS n_filled FROM allc GROUP BY poly_id"""


def _addmode_pdf() -> pd.DataFrame:
    """Overlapping integer rectangles + the concave C polygon — depths
    up to ~6 overlap for the MERGE_ALG=ADD fixture."""
    from gdal_spark import wkb

    rows = []
    shapes = {}
    for k in range(12):
        xa, ya = -100 + 11 * k, -45 + 6 * k
        shapes[k] = [
            (xa, ya), (xa + 50, ya), (xa + 50, ya + 35),
            (xa, ya + 35), (xa, ya),
        ]
    shapes[12] = POLYGONS[0]  # concave C
    for pid, ring in shapes.items():
        arr = np.array(ring, dtype=float)
        rows.append({
            "poly_id": pid,
            "geom_wkb": wkb.polygon([arr]),
            "bbox_minx": float(arr[:, 0].min()),
            "bbox_miny": float(arr[:, 1].min()),
            "bbox_maxx": float(arr[:, 0].max()),
            "bbox_maxy": float(arr[:, 1].max()),
        })
    return pd.DataFrame(rows)


_CKSUM_WINDOWS = [(0, 0, 256, 192), (37, 21, 150, 101), (64, 64, 64, 64)]


def _q_rs_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GDALChecksumImage analog (alg/gdalchecksum.cpp:48-230) — THE
    parity primitive the reference's whole autotest suite pins rasters
    with: per pixel ``value % primes[linear_index % 11]`` over the
    cycling prime set {7..43}, summed and masked to 16 bits. The
    prime index is a pure function of the pixel's global window
    coordinates, so per-tile partials reduce with one commutative sum
    and the distributed result is BIT-identical to the reference's
    sequential scan at any partitioning. Three windows (full raster,
    unaligned interior, tile-aligned) per run."""
    from gdal_spark.operators.stats import checksum_image
    from gdal_spark.operators.tiling import formula_tiles

    tiles = formula_tiles(spark, 4, 3, 64)
    out = None
    for wid, (x0, y0, xs, ys) in enumerate(_CKSUM_WINDOWS):
        part = checksum_image(
            tiles, x0, y0, xs, ys, tile_size=64
        ).select(F.lit(wid).alias("window_id"), "checksum")
        out = part if out is None else out.unionAll(part)
    return out


def _checksum_oracle_sql() -> str:
    parts = []
    for wid, (x0, y0, xs, ys) in enumerate(_CKSUM_WINDOWS):
        parts.append(f"""
        SELECT {wid} AS window_id,
               CAST(SUM(((x*7 + y*13) % 251) %
                    ([7,11,13,17,19,23,29,31,37,41,43])
                    [((y - {y0}) * {xs} + (x - {x0})) % 11 + 1])
                    % 65536 AS INT) AS checksum
        FROM generate_series({x0}, {x0 + xs - 1}) a(x)
        CROSS JOIN generate_series({y0}, {y0 + ys - 1}) b(y)""")
    return " UNION ALL ".join(parts)


def _q_rs_rasterize_add(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE_ALG=ADD rasterization (additive burn, alg/gdalrasterize
    .cpp): coverage-depth histogram of an overlapping polygon stack."""
    from gdal_spark.operators.tiling import rasterize_polygons_add

    return rasterize_polygons_add(
        spark, _addmode_pdf(), 360, 180, -180.0, 90.0, 1.0, -1.0,
        tile_size=64,
    )


def _pyramid_oracle_sql() -> str:
    from gdal_spark import mercator

    z, ts = _PYR_ZOOM, _PYR_TS
    n_px = (1 << z) * ts
    px, py = mercator.pixel_sql("p.lon", "p.lat", z, ts)
    gx = f"LEAST(GREATEST(CAST(FLOOR({px}) AS BIGINT), 0), {n_px - 1})"
    gy = f"{n_px - 1} - LEAST(GREATEST(CAST(FLOOR({py}) AS BIGINT), 0), {n_px - 1})"

    def level_cks(src: str, zz: int) -> str:
        return f"""
        SELECT {zz} AS z,
               CAST(FLOOR(gx / {ts}e0) AS BIGINT) AS tx,
               CAST(FLOOR(gy / {ts}e0) AS BIGINT) AS ty,
               CAST(SUM(v * (((gy % {ts}) * {ts} + (gx % {ts})) % 11 + 1))
                 % 2147483648 AS BIGINT) AS cks
        FROM {src} GROUP BY 2, 3"""

    reduce_tpl = """
        SELECT CAST(FLOOR(gx / 2e0) AS BIGINT) AS gx,
               CAST(FLOOR(gy / 2e0) AS BIGINT) AS gy,
               CAST(FLOOR((SUM(v) + 2) / 4e0) AS BIGINT) AS v
        FROM {src} GROUP BY 1, 2"""

    return f"""
        WITH pts AS ({DOC_PTS_SQL}),
        base AS (
          SELECT gx, gy, LEAST(n, 255) AS v FROM (
            SELECT {gx} AS gx, {gy} AS gy, COUNT(*) AS n
            FROM pts p GROUP BY 1, 2) c),
        l2 AS ({reduce_tpl.format(src='base')}),
        l1 AS ({reduce_tpl.format(src='l2')}),
        l0 AS ({reduce_tpl.format(src='l1')})
        {level_cks('base', 3)}
        UNION ALL {level_cks('l2', 2)}
        UNION ALL {level_cks('l1', 1)}
        UNION ALL {level_cks('l0', 0)}"""


_N_FULL_POLYS = 40


def _testdata_edges_values() -> str:
    """All ring edges (incl. holes — even-odd handles them) of the
    seeded fixture polygon set, as SQL VALUES rows."""
    from gdal_spark import testdata, wkb

    pdf = testdata.polygons_pdf(_N_FULL_POLYS)
    vals = []
    for pid, buf in zip(pdf["poly_id"], pdf["geom_wkb"]):
        for part in wkb.polygon_rings(bytes(buf)):
            for ring in part:
                for k in range(len(ring) - 1):
                    x1, y1 = ring[k + 1]
                    x2, y2 = ring[k]
                    vals.append(
                        f"({int(pid)}, {x1!r}, {y1!r}, {x2!r}, {y2!r})"
                    )
    return ", ".join(vals)


def _q_pip_full_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial join against the full fixture polygon set — holed,
    sliver, shared-edge and giant polygons, mixed-res covers — the
    engine path the 3-literal-polygon queries don't stress."""
    from gdal_spark import testdata
    from gdal_spark.operators.spatial_join import spatial_join

    pts = _doc_points(spark, sf_dir)
    joined = spatial_join(
        pts, testdata.polygons_pdf(_N_FULL_POLYS), res_min=2, res_max=9
    )
    return joined.select("doc_id", "poly_id")


def _q_tx_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gdal_spark.operators.text import lang_id

    docs = _t(spark, sf_dir, "documents")
    return lang_id(docs).select("doc_id", "lang_guess")


# ---------------------------------------------------------------------------
# layer algebra (polygon × polygon) — convex integer-coordinate fixture
# ---------------------------------------------------------------------------

_LA_NA, _LA_NB = 24, 12


def _convex_ring_at(
    pid: int, seed: int, r_lo: int, r_hi: int, cx: int, cy: int
) -> np.ndarray:
    """Deterministic convex polygon with INTEGER vertex coordinates
    (closed CCW ring) around an explicit center: jittered radial
    points → convex hull. Integer coords keep every shoelace term
    exact in float64, so engine and oracle agree bit-for-bit on
    vertex-derived areas."""
    import math

    from gdal_spark import geometry

    def h(k: int) -> int:
        return (pid * 2654435761 + k * 40503 + seed * 69069) % 2147483647

    nv = 6 + h(0) % 4
    pts = []
    for k in range(nv):
        ang = 2 * math.pi * k / nv + (h(3 + k) % 97) / 97.0 * (
            math.pi / nv
        )
        r = r_lo + (h(50 + k) % (r_hi - r_lo))
        pts.append(
            (round(cx + r * math.cos(ang)), round(cy + r * math.sin(ang)))
        )
    return geometry.convex_hull(np.array(pts, dtype=np.float64))


def _convex_ring(pid: int, seed: int, r_lo: int, r_hi: int) -> np.ndarray:
    def h(k: int) -> int:
        return (pid * 2654435761 + k * 40503 + seed * 69069) % 2147483647

    cx = -140 + (h(1) % 280)
    cy = -60 + (h(2) % 120)
    return _convex_ring_at(pid, seed, r_lo, r_hi, cx, cy)


def _la_fixture(n: int, seed: int, r_lo: int, r_hi: int) -> pd.DataFrame:
    from gdal_spark import wkb

    rows = []
    for pid in range(n):
        ring = _convex_ring(pid, seed, r_lo, r_hi)
        rows.append(
            {
                "poly_id": pid,
                "geom_wkb": wkb.polygon([ring]),
                "bbox_minx": float(ring[:, 0].min()),
                "bbox_miny": float(ring[:, 1].min()),
                "bbox_maxx": float(ring[:, 0].max()),
                "bbox_maxy": float(ring[:, 1].max()),
            }
        )
    return pd.DataFrame(rows)


def _la_b_components() -> list[tuple[int, int, int, np.ndarray]]:
    """The method (B) layer as SIGNED CONVEX components: (bid, comp,
    sgn, closed CCW ring). The convex base set is one +1 component
    each; 4 donut B's add a −1 convex hole; 2 multipart B's carry two
    +1 parts. Any area against a B is then the signed sum of
    convex∩convex areas — which keeps the DuckDB oracle expressible
    in pure SQL while gating full holed/multipart method geometries
    (ogr/ogrlayer.cpp:3489-3503 semantics)."""
    from gdal_spark import wkb

    comps: list[tuple[int, int, int, np.ndarray]] = []
    base = _la_fixture(_LA_NB, 202, 16, 34)
    for pid, buf in zip(base["poly_id"], base["geom_wkb"]):
        comps.append(
            (int(pid), 0, 1, wkb.polygon_rings(bytes(buf))[0][0])
        )
    # donuts: convex outer (min radius 22 → inradius ≳ 19) with a
    # strictly interior convex hole (extent ≤ 7) at the center
    for j in range(4):
        bid = _LA_NB + j

        def h(k: int, _j=j) -> int:
            return (_j * 2654435761 + k * 40503 + 303 * 69069) % 2147483647

        cx = -120 + (h(1) % 240)
        cy = -50 + (h(2) % 100)
        outer = _convex_ring_at(1000 + j, 303, 22, 34, cx, cy)
        hole = _convex_ring_at(2000 + j, 404, 3, 7, cx, cy)
        comps.append((bid, 0, 1, outer))
        comps.append((bid, 1, -1, hole))
    # multiparts: two convex parts 120 apart (radii ≤ 18 → disjoint)
    for j in range(2):
        bid = _LA_NB + 4 + j

        def h(k: int, _j=j) -> int:
            return (_j * 2654435761 + k * 40503 + 505 * 69069) % 2147483647

        cx = -60 + (h(1) % 120)
        cy = -40 + (h(2) % 80)
        p1 = _convex_ring_at(3000 + j, 505, 8, 18, cx - 60, cy)
        p2 = _convex_ring_at(4000 + j, 606, 8, 18, cx + 60, cy)
        comps.append((bid, 0, 1, p1))
        comps.append((bid, 1, 1, p2))
    return comps


def _la_fixture_b() -> pd.DataFrame:
    """B fixture pdf (poly_id, geom_wkb) assembled from the signed
    component list: donuts become polygons with a hole ring, multipart
    entries a MULTIPOLYGON."""
    from gdal_spark import wkb

    comps = _la_b_components()
    by_bid: dict[int, list[tuple[int, np.ndarray]]] = {}
    for bid, comp, sgn, ring in comps:
        by_bid.setdefault(bid, []).append((sgn, ring))
    rows = []
    for bid in sorted(by_bid):
        parts = by_bid[bid]
        if len(parts) == 1:
            buf = wkb.polygon([parts[0][1]])
        elif any(s < 0 for s, _ in parts):
            outer = next(r for s, r in parts if s > 0)
            holes = [r for s, r in parts if s < 0]
            buf = wkb.polygon([outer, *holes])
        else:
            buf = wkb.multipolygon([[r] for _, r in parts])
        rows.append({"poly_id": bid, "geom_wkb": buf})
    return pd.DataFrame(rows)


def _la_edges_values(pdf: pd.DataFrame) -> str:
    """Ring edges (x1,y1)→(x2,y2) in CCW traversal order as SQL VALUES."""
    from gdal_spark import wkb

    vals = []
    for pid, buf in zip(pdf["poly_id"], pdf["geom_wkb"]):
        ring = wkb.polygon_rings(bytes(buf))[0][0]
        for k in range(len(ring) - 1):
            x1, y1 = ring[k]
            x2, y2 = ring[k + 1]
            vals.append(
                f"({int(pid)}, {x1:.0f}e0, {y1:.0f}e0,"
                f" {x2:.0f}e0, {y2:.0f}e0)"
            )
    return ", ".join(vals)


def _q_geo_layer_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-pair Intersection/Union/SymDifference areas with REAL
    geometric output (clipped-piece WKB upstream) — the layer-algebra
    family (ogr/ogrlayer.cpp:3345,3763,4300). The method layer now
    includes donut (holed) and multipart B's: piece areas per pair sum
    over the disjoint decomposition, so hole interiors are excluded
    exactly (ogrlayer.cpp:3489-3503 full-geometry semantics)."""
    from gdal_spark.operators.layer_algebra import intersection_pieces

    b_pdf = _la_fixture_b()
    return _la_pair_areas(
        spark, lambda a_df: intersection_pieces(a_df, b_pdf)
    )


def _la_pair_areas(spark: SparkSession, pieces_of) -> DataFrame:
    """The layer-algebra tail shared by both gates: ``pieces_of(a_df)``
    clips the A fixture against the method layer; per-pair piece
    areas → quantized intersection, union and symmetric-difference
    areas."""
    from gdal_spark import geometry, wkb

    a_pdf = _la_fixture(_LA_NA, 101, 8, 18)
    a_df = spark.createDataFrame(
        a_pdf[["poly_id", "geom_wkb"]].rename(columns={"poly_id": "a_id"})
    )
    pair = pieces_of(a_df).groupBy("a_id", "b_id").agg(
        F.sum("area").alias("inter")
    )

    aa = spark.createDataFrame(
        pd.DataFrame(
            {
                "a_id": a_pdf["poly_id"].astype("int64"),
                "__area_a": [
                    abs(
                        geometry.ring_area(
                            wkb.polygon_rings(bytes(b))[0][0]
                        )
                    )
                    for b in a_pdf["geom_wkb"]
                ],
            }
        )
    )
    b_area: dict[int, float] = {}
    for bid, comp, sgn, ring in _la_b_components():
        b_area[bid] = b_area.get(bid, 0.0) + sgn * abs(
            geometry.ring_area(ring)
        )
    ab = spark.createDataFrame(
        pd.DataFrame(
            {
                "b_id": sorted(b_area),
                "__area_b": [b_area[k] for k in sorted(b_area)],
            }
        )
    )
    return (
        pair.join(F.broadcast(aa), "a_id")
        .join(F.broadcast(ab), "b_id")
        .select(
            "a_id", "b_id",
            F.round(F.col("inter") * 100).cast("long").alias("inter_q2"),
            F.round(
                (F.col("__area_a") + F.col("__area_b")
                 - F.col("inter")) * 100
            ).cast("long").alias("union_q2"),
            F.round(
                (F.col("__area_a") + F.col("__area_b")
                 - 2 * F.col("inter")) * 100
            ).cast("long").alias("sym_q2"),
        )
        .filter(F.col("inter_q2") >= 1)
    )


def _la_comp_edges_values() -> str:
    """Signed-component ring edges as SQL VALUES:
    (bid, comp, sgn, x1, y1, x2, y2)."""
    vals = []
    for bid, comp, sgn, ring in _la_b_components():
        for k in range(len(ring) - 1):
            x1, y1 = ring[k]
            x2, y2 = ring[k + 1]
            vals.append(
                f"({bid}, {comp}, {sgn}, {x1:.0f}e0, {y1:.0f}e0,"
                f" {x2:.0f}e0, {y2:.0f}e0)"
            )
    return ", ".join(vals)


def _q_geo_layer_algebra_big(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Layer algebra at DataFrame × DataFrame scale: the SAME pair
    areas as geo_layer_algebra, but with the method layer as a Spark
    DataFrame run through intersection_join (cell-cover equi-join
    prefilter → per-pair clip kernel; no driver-resident B, no cross
    join) — OGRLayer::Intersection on two arbitrary layers
    (ogr/ogrlayer.cpp:3345, :3450 filter pushdown)."""
    from gdal_spark.operators.layer_algebra import intersection_join

    b_df = spark.createDataFrame(
        _la_fixture_b().rename(columns={"poly_id": "b_id"})
    )
    return _la_pair_areas(
        spark, lambda a_df: intersection_join(a_df, b_df, cell=32.0)
    )


def _layer_algebra_oracle_sql() -> str:
    """Convex∩convex intersection area in pure SQL, extended to holed
    and multipart method layers via SIGNED components: per (A, B
    component) candidate vertices = A-verts in comp + comp-verts in A
    + edge-pair crossings, angular sort around their centroid,
    shoelace; then inter(A, B) = Σ sgn × inter(A, comp). B's true
    area is the same signed sum of component areas."""
    a_pdf = _la_fixture(_LA_NA, 101, 8, 18)
    ae = _la_edges_values(a_pdf)
    be = _la_comp_edges_values()
    return f"""
        WITH ae(aid, x1, y1, x2, y2) AS (VALUES {ae}),
        be(bid, comp, sgn, x1, y1, x2, y2) AS (VALUES {be}),
        -- A vertices (edge starts) inside-or-on convex component
        -- (CCW: all edge crosses >= 0)
        va AS (
          SELECT ae.aid, be.bid, be.comp, ae.x1 AS x, ae.y1 AS y
          FROM ae CROSS JOIN be
          GROUP BY ae.aid, be.bid, be.comp, ae.x1, ae.y1
          HAVING BOOL_AND(
            (be.x2 - be.x1) * (ae.y1 - be.y1)
            - (be.y2 - be.y1) * (ae.x1 - be.x1) >= 0)),
        vb AS (
          SELECT ae.aid, be.bid, be.comp, be.x1 AS x, be.y1 AS y
          FROM be CROSS JOIN ae
          GROUP BY be.bid, be.comp, ae.aid, be.x1, be.y1
          HAVING BOOL_AND(
            (ae.x2 - ae.x1) * (be.y1 - ae.y1)
            - (ae.y2 - ae.y1) * (be.x1 - ae.x1) >= 0)),
        vx AS (
          SELECT aid, bid, comp,
                 ax1 + t * (ax2 - ax1) AS x,
                 ay1 + t * (ay2 - ay1) AS y
          FROM (
            SELECT ae.aid, be.bid, be.comp,
                   ae.x1 AS ax1, ae.y1 AS ay1, ae.x2 AS ax2, ae.y2 AS ay2,
                   ((be.x1 - ae.x1) * (be.y2 - be.y1)
                    - (be.y1 - ae.y1) * (be.x2 - be.x1))
                   / ((ae.x2 - ae.x1) * (be.y2 - be.y1)
                      - (ae.y2 - ae.y1) * (be.x2 - be.x1)) AS t,
                   ((be.x1 - ae.x1) * (ae.y2 - ae.y1)
                    - (be.y1 - ae.y1) * (ae.x2 - ae.x1))
                   / ((ae.x2 - ae.x1) * (be.y2 - be.y1)
                      - (ae.y2 - ae.y1) * (be.x2 - be.x1)) AS u
            FROM ae CROSS JOIN be
            WHERE (ae.x2 - ae.x1) * (be.y2 - be.y1)
                  - (ae.y2 - ae.y1) * (be.x2 - be.x1) <> 0) s
          WHERE t >= 0 AND t <= 1 AND u >= 0 AND u <= 1),
        pts AS (
          SELECT DISTINCT aid, bid, comp, x, y FROM (
            SELECT * FROM va UNION ALL SELECT * FROM vb
            UNION ALL SELECT * FROM vx) u),
        c AS (
          SELECT aid, bid, comp, AVG(x) AS cx, AVG(y) AS cy
          FROM pts GROUP BY aid, bid, comp HAVING COUNT(*) >= 3),
        o AS (
          SELECT p.aid, p.bid, p.comp, p.x, p.y,
                 ROW_NUMBER() OVER w AS rn
          FROM pts p JOIN c ON p.aid = c.aid AND p.bid = c.bid
                            AND p.comp = c.comp
          WINDOW w AS (PARTITION BY p.aid, p.bid, p.comp
                       ORDER BY ATAN2(p.y - c.cy, p.x - c.cx), p.x, p.y)),
        eo AS (
          SELECT aid, bid, comp, x, y,
                 COALESCE(LEAD(x) OVER w, FIRST_VALUE(x) OVER w) AS nx,
                 COALESCE(LEAD(y) OVER w, FIRST_VALUE(y) OVER w) AS ny
          FROM o WINDOW w AS (PARTITION BY aid, bid, comp ORDER BY rn)),
        iac AS (
          SELECT aid, bid, comp,
                 ABS(SUM(x * ny - nx * y)) / 2e0 AS inter_c
          FROM eo GROUP BY aid, bid, comp),
        sgns AS (SELECT DISTINCT bid, comp, sgn FROM be),
        ia AS (
          SELECT aid, iac.bid, SUM(sgns.sgn * inter_c) AS inter_a
          FROM iac JOIN sgns ON sgns.bid = iac.bid
                            AND sgns.comp = iac.comp
          GROUP BY aid, iac.bid),
        aaq AS (SELECT aid, ABS(SUM(x1 * y2 - x2 * y1)) / 2e0 AS aa
                FROM ae GROUP BY aid),
        abc AS (SELECT bid, comp,
                       MAX(sgn) * ABS(SUM(x1 * y2 - x2 * y1)) / 2e0 AS sca
                FROM be GROUP BY bid, comp),
        abq AS (SELECT bid, SUM(sca) AS ab FROM abc GROUP BY bid)
        SELECT ia.aid AS a_id, ia.bid AS b_id,
               CAST(ROUND(inter_a * 100) AS BIGINT) AS inter_q2,
               CAST(ROUND((aa + ab - inter_a) * 100) AS BIGINT) AS union_q2,
               CAST(ROUND((aa + ab - 2 * inter_a) * 100) AS BIGINT) AS sym_q2
        FROM ia
        JOIN aaq ON aaq.aid = ia.aid
        JOIN abq ON abq.bid = ia.bid
        WHERE CAST(ROUND(inter_a * 100) AS BIGINT) >= 1"""


# ---------------------------------------------------------------------------
# UTM inverse transform (E, N, zone → lat/lon; Krüger inverse series)
# ---------------------------------------------------------------------------


def _q_sp_utm_inverse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UTM → WGS84 inverse (the direction r02 lacked): synthetic
    integer E/N per doc, proj.utm_inverse (β/δ series) vectorized in
    mapInPandas; µ-degree quantization absorbs libm ulp spread
    (ogr/ogrct.cpp:2254 inverse path)."""
    from gdal_spark import proj

    src = _t(spark, sf_dir, "documents").select(
        "doc_id",
        (200000 + (F.col("doc_id") * 2654435761) % 600001).alias("e"),
        ((F.col("doc_id") * 2246822519 + 7) % 9000001).alias("n"),
        (1 + F.col("doc_id") % 60).alias("zone"),
    )

    def run(batches):
        for b in batches:
            lat, lon = proj.utm_inverse(
                b["e"].to_numpy(dtype=np.float64),
                b["n"].to_numpy(dtype=np.float64),
                b["zone"].to_numpy(dtype=np.int64),
                northern=True,
            )
            yield pd.DataFrame({
                "doc_id": b["doc_id"],
                "lat_q6": np.floor(lat * 1e6 + 0.5).astype(np.int64),
                "lon_q6": np.floor(lon * 1e6 + 0.5).astype(np.int64),
            })

    return src.mapInPandas(
        run, "doc_id long, lat_q6 long, lon_q6 long"
    )


def _utm_inverse_oracle_sql() -> str:
    """The inverse series in SQL, mirroring the numpy kernel's
    SEQUENTIAL term subtraction/addition order; hyperbolics as
    EXP-forms; constants repr'd from the kernel's floats."""
    from gdal_spark import proj

    c = proj.series_constants()
    k0a = repr(0.9996 * c["big_a"])
    b1, b2, b3, b4 = (repr(v) for v in c["beta"])
    d1, d2, d3, d4 = (repr(v) for v in c["delta"])

    def cosh(x):
        return f"((EXP({x}) + EXP(-({x}))) / 2e0)"

    def sinh(x):
        return f"((EXP({x}) - EXP(-({x}))) / 2e0)"

    xip_terms = " - ".join(
        f"{bc} * SIN({2 * j}e0 * xi) * {cosh(f'{2 * j}e0 * eta')}"
        for j, bc in zip((1, 2, 3, 4), (b1, b2, b3, b4))
    )
    etap_terms = " - ".join(
        f"{bc} * COS({2 * j}e0 * xi) * {sinh(f'{2 * j}e0 * eta')}"
        for j, bc in zip((1, 2, 3, 4), (b1, b2, b3, b4))
    )
    phi_terms = " + ".join(
        f"{dc} * SIN({2 * j}e0 * chi)"
        for j, dc in zip((1, 2, 3, 4), (d1, d2, d3, d4))
    )
    return f"""
        WITH src AS (
          SELECT doc_id,
                 200000 + (doc_id * 2654435761) % 600001 AS e,
                 (doc_id * 2246822519 + 7) % 9000001 AS n,
                 1 + doc_id % 60 AS zone
          FROM documents),
        s1 AS (SELECT doc_id, zone,
                      n / {k0a} AS xi,
                      (e - 500000e0) / {k0a} AS eta
               FROM src),
        s2 AS (SELECT doc_id, zone, xi, eta,
                      xi - {xip_terms} AS xip,
                      eta - {etap_terms} AS etap
               FROM s1),
        s3 AS (SELECT doc_id, zone, xip, etap,
                      ASIN(SIN(xip) / {cosh('etap')}) AS chi
               FROM s2),
        s4 AS (SELECT doc_id, zone, xip, etap, chi,
                      chi + {phi_terms} AS phi,
                      ATAN2({sinh('etap')}, COS(xip)) AS lam
               FROM s3)
        SELECT doc_id,
               CAST(FLOOR(DEGREES(phi) * 1e6 + 0.5) AS BIGINT) AS lat_q6,
               CAST(FLOOR((zone * 6 - 183 + DEGREES(lam)) * 1e6 + 0.5)
                    AS BIGINT) AS lon_q6
        FROM s4"""


# ---------------------------------------------------------------------------
# ellipsoidal geodesic area + perimeter (gate on the A polygon fixture
# read as lon/lat = 0.1 × integer coords)
# ---------------------------------------------------------------------------


def _q_sp_datum_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ED50 → WGS84 datum shift (different ellipsoids: International
    1924 → WGS84) over synthetic European points: geodetic → ECEF →
    geocentric translation (EPSG:1133) → Bowring recovery, vectorized
    in mapInPandas (ogr/ogrct.cpp:2254 +towgs84 path). µ-degree
    quantization absorbs libm ulp spread; the oracle evaluates the
    identical arithmetic tree term-for-term in DuckDB."""
    from gdal_spark.datum import (
        ED50_TO_WGS84, INTL1924, WGS84, DatumShiftTransform,
    )

    src = _t(spark, sf_dir, "documents").select(
        "doc_id",
        (-5.0 + ((F.col("doc_id") * 2654435761) % 2000001) * 1e-5)
        .alias("lon"),
        (35.0 + ((F.col("doc_id") * 2246822519) % 2000001) * 1e-5)
        .alias("lat"),
    )
    tr = DatumShiftTransform(INTL1924, ED50_TO_WGS84, WGS84)

    def run(batches):
        for b in batches:
            lon, lat = tr(
                b["lon"].to_numpy(dtype=np.float64),
                b["lat"].to_numpy(dtype=np.float64),
            )
            yield pd.DataFrame({
                "doc_id": b["doc_id"],
                "lon_q6": np.floor(lon * 1e6 + 0.5).astype(np.int64),
                "lat_q6": np.floor(lat * 1e6 + 0.5).astype(np.int64),
            })

    return src.mapInPandas(run, "doc_id long, lon_q6 long, lat_q6 long")


def _datum_shift_oracle_sql() -> str:
    """The full geodetic→ECEF→translate→Bowring chain in SQL, with
    constants repr'd from the kernel's floats and every product in
    the kernel's association order."""
    from gdal_spark.datum import INTL1924, WGS84

    ai, e2i = repr(INTL1924.a), repr(INTL1924.e2)
    aw, bw = repr(WGS84.a), repr(WGS84.b)
    e2w, ep2w = repr(WGS84.e2), repr(WGS84.ep2)
    return f"""
        WITH src AS (
          SELECT doc_id,
                 -5.0 + ((doc_id * 2654435761) % 2000001) * 1e-5 AS lon,
                 35.0 + ((doc_id * 2246822519) % 2000001) * 1e-5 AS lat
          FROM documents),
        g AS (SELECT doc_id, RADIANS(lon) AS lam, RADIANS(lat) AS phi
              FROM src),
        sc AS (SELECT doc_id, lam, SIN(phi) AS s, COS(phi) AS c FROM g),
        nu AS (SELECT doc_id, lam, s, c,
                      {ai} / SQRT(1e0 - {e2i} * s * s) AS nv
               FROM sc),
        ecef AS (SELECT doc_id,
                        nv * c * COS(lam) - 87.0 AS x,
                        nv * c * SIN(lam) - 98.0 AS y,
                        nv * (1e0 - {e2i}) * s - 121.0 AS z
                 FROM nu),
        pp AS (SELECT doc_id, x, y, z, SQRT(x * x + y * y) AS p
               FROM ecef),
        th AS (SELECT doc_id, x, y, z, p,
                      SIN(ATAN2(z * {aw}, p * {bw})) AS st,
                      COS(ATAN2(z * {aw}, p * {bw})) AS ct
               FROM pp),
        geo AS (SELECT doc_id,
                       ATAN2(y, x) AS lon2,
                       ATAN2(z + {ep2w} * {bw} * st * st * st,
                             p - {e2w} * {aw} * ct * ct * ct) AS lat2
                FROM th)
        SELECT doc_id,
               CAST(FLOOR(DEGREES(lon2) * 1e6 + 0.5) AS BIGINT) AS lon_q6,
               CAST(FLOOR(DEGREES(lat2) * 1e6 + 0.5) AS BIGINT) AS lat_q6
        FROM geo"""


def _q_geo_area_geodesic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ellipsoid-true ST_Area/ST_Length(use_ellipsoid) analog
    (ogr/ogrsqlitesqlfunctions.cpp:630,675): per polygon the authalic
    Chamberlain-Duquette area term-sum (q14 ints, order-free) and the
    Vincenty perimeter (per-edge mm ints)."""
    from gdal_spark import geodesy, wkb

    pdf = _la_fixture(_LA_NA, 101, 8, 18)

    def run(batches):
        for b in batches:
            rows = []
            for pid, buf in zip(b["poly_id"], b["geom_wkb"]):
                ring = wkb.polygon_rings(bytes(buf))[0][0]  # closed
                opened = ring[:-1]
                lon = opened[:, 0] * 0.1
                lat = opened[:, 1] * 0.1
                cd = int(
                    abs(geodesy.authalic_cd_terms_q14(lat, lon).sum())
                )
                d = geodesy.vincenty_distance(
                    ring[:-1, 1] * 0.1, ring[:-1, 0] * 0.1,
                    ring[1:, 1] * 0.1, ring[1:, 0] * 0.1,
                )
                mm = int(
                    np.floor(d * 1000.0 + 0.5).astype(np.int64).sum()
                )
                rows.append((int(pid), cd, mm))
            yield pd.DataFrame(
                rows, columns=["poly_id", "cd_q14", "perim_mm"]
            )

    return spark.createDataFrame(pdf[["poly_id", "geom_wkb"]]).mapInPandas(
        run, "poly_id long, cd_q14 long, perim_mm long"
    )


def _geodesic_oracle_sql() -> str:
    """The identical kernels in SQL: CD terms per vertex (LEAD/LAG
    wraparound over the ring), Vincenty with the engine's fixed
    iteration unroll (7 λ-updates + final compute — the loop's last
    λ-update is dead in the engine too). All ellipsoid constants are
    repr'd from the very Python floats the numpy kernel uses."""
    from gdal_spark import geodesy as gd
    from gdal_spark import wkb

    # vertex VALUES
    vrows = []
    for _, row in _la_fixture(_LA_NA, 101, 8, 18).iterrows():
        ring = wkb.polygon_rings(bytes(row["geom_wkb"]))[0][0][:-1]
        for i, (x, y) in enumerate(ring):
            vrows.append(
                f"({int(row['poly_id'])}, {i}, {x:.0f}e0, {y:.0f}e0)"
            )
    vv = ", ".join(vrows)
    ae = _la_edges_values(_la_fixture(_LA_NA, 101, 8, 18))
    e = repr(float(gd._E))
    e2 = repr(float(gd._E2))
    ome2 = repr(1.0 - float(gd._E2))
    inv2e = repr(1.0 / (2.0 * float(gd._E)))
    qp = repr(float(gd._QP))
    omf = repr(1.0 - gd._F)
    f = repr(gd._F)
    f16 = repr(gd._F / 16.0)
    u2c = repr((gd._A * gd._A - gd._B * gd._B) / (gd._B * gd._B))
    bb = repr(float(gd._B))
    # one Vincenty iteration, FULLY EXPANDED in terms of `lam` and the
    # carried constants — no same-SELECT alias references (DuckDB
    # resolves input columns over lateral aliases, so alias-chained
    # iterations silently read the PREVIOUS round's values)
    sl = "SIN(lam)"
    cl = "COS(lam)"
    t1 = f"(cu2 * {sl})"
    t2 = f"(cu1 * su2 - su1 * cu2 * {cl})"
    sin_s = f"SQRT({t1} * {t1} + {t2} * {t2})"
    cos_s = f"(su1 * su2 + cu1 * cu2 * {cl})"
    sigma = f"ATAN2({sin_s}, {cos_s})"
    sin_a = (
        f"(CASE WHEN {sin_s} = 0 THEN 0e0"
        f" ELSE cu1 * cu2 * {sl} / {sin_s} END)"
    )
    cos2a = f"(1e0 - {sin_a} * {sin_a})"
    cos2sm = (
        f"(CASE WHEN {cos2a} = 0 THEN 0e0"
        f" ELSE {cos_s} - 2e0 * su1 * su2 / {cos2a} END)"
    )
    cc = f"({f16} * {cos2a} * (4e0 + {f} * (4e0 - 3e0 * {cos2a})))"
    lam_new = (
        f"(L + (1e0 - {cc}) * {f} * {sin_a} * ({sigma}"
        f" + {cc} * {sin_s} * ({cos2sm} + {cc} * {cos_s}"
        f" * (-1e0 + 2e0 * {cos2sm} * {cos2sm}))))"
    )
    carry = "pid, sid, L, su1, cu1, su2, cu2"
    its = []
    prev = "v0"
    for k in range(1, 8):
        its.append(
            f"v{k} AS (SELECT {carry}, {lam_new} AS lam FROM {prev})"
        )
        prev = f"v{k}"
    iters_sql = ",\n        ".join(its)
    return f"""
        WITH vv(pid, idx, x, y) AS (VALUES {vv}),
        vert AS (
          SELECT pid, idx,
                 RADIANS(x * 0.1e0) AS lam,
                 SIN(RADIANS(y * 0.1e0)) AS sphi
          FROM vv),
        cdq AS (
          SELECT pid,
                 (COALESCE(LEAD(lam) OVER w, FIRST_VALUE(lam) OVER w)
                  - COALESCE(LAG(lam) OVER w, LAST_VALUE(lam) OVER w))
                 * (({ome2} * (sphi / (1e0 - {e2} * sphi * sphi)
                      - {inv2e} * LN((1e0 - {e} * sphi)
                                     / (1e0 + {e} * sphi)))) / {qp})
                   AS term
          FROM vert
          WINDOW w AS (PARTITION BY pid ORDER BY idx
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND UNBOUNDED FOLLOWING)),
        cd AS (
          SELECT pid,
                 ABS(CAST(SUM(CAST(FLOOR(term * 1e14 + 0.5) AS BIGINT))
                          AS BIGINT)) AS cd_q14
          FROM cdq GROUP BY pid),
        ed(pid, x1, y1, x2, y2) AS (VALUES {ae}),
        base AS (
          SELECT pid,
                 ROW_NUMBER() OVER (PARTITION BY pid
                                    ORDER BY x1, y1, x2, y2) AS sid,
                 RADIANS(x2 * 0.1e0 - x1 * 0.1e0) AS L,
                 ATAN({omf} * TAN(RADIANS(y1 * 0.1e0))) AS u1a,
                 ATAN({omf} * TAN(RADIANS(y2 * 0.1e0))) AS u2a,
                 0e0 AS slen0
          FROM ed),
        v0 AS (
          SELECT pid, sid, L,
                 SIN(u1a) AS su1, COS(u1a) AS cu1,
                 SIN(u2a) AS su2, COS(u2a) AS cu2,
                 L AS lam
          FROM base),
        {iters_sql},
        fin AS (
          SELECT {carry},
                 {sin_s} AS sin_s, {cos_s} AS cos_s,
                 {sigma} AS sigma, {cos2a} AS cos2a,
                 {cos2sm} AS cos2sm
          FROM v7),
        dist AS (
          SELECT pid, sin_s, sigma,
                 cos2a * {u2c} AS u2,
                 1e0 + u2 / 16384e0 * (4096e0 + u2
                     * (-768e0 + u2 * (320e0 - 175e0 * u2))) AS big_a,
                 u2 / 1024e0 * (256e0 + u2
                     * (-128e0 + u2 * (74e0 - 47e0 * u2))) AS big_b,
                 big_b * sin_s * (cos2sm + big_b / 4e0
                     * (cos_s * (-1e0 + 2e0 * cos2sm * cos2sm)
                        - big_b / 6e0 * cos2sm
                          * (-3e0 + 4e0 * sin_s * sin_s)
                          * (-3e0 + 4e0 * cos2sm * cos2sm))) AS dsig,
                 CASE WHEN sin_s = 0 THEN 0e0
                      ELSE {bb} * big_a * (sigma - dsig) END AS s
          FROM fin),
        pm AS (
          SELECT pid,
                 CAST(SUM(CAST(FLOOR(s * 1000e0 + 0.5) AS BIGINT))
                      AS BIGINT) AS perim_mm
          FROM dist GROUP BY pid)
        SELECT cd.pid AS poly_id, cd.cd_q14, pm.perim_mm
        FROM cd JOIN pm ON pm.pid = cd.pid"""


# ---------------------------------------------------------------------------
# line × polygon clip — integer polyline fixture vs the B component set
# ---------------------------------------------------------------------------

_LN_N = 40


def _line_fixture() -> pd.DataFrame:
    """Deterministic integer-coordinate 2-segment polylines spanning
    the layer-algebra domain."""
    from gdal_spark import wkb

    rows = []
    for lid in range(_LN_N):
        def h(k: int) -> int:
            return (lid * 2654435761 + k * 40503 + 707 * 69069) % 2147483647

        pts = []
        for k in range(3):
            pts.append((
                -150 + h(2 * k + 1) % 300,
                -70 + h(2 * k + 2) % 140,
            ))
        # no zero-length segments
        if pts[1] == pts[0]:
            pts[1] = (pts[1][0] + 1, pts[1][1])
        if pts[2] == pts[1]:
            pts[2] = (pts[2][0], pts[2][1] + 1)
        rows.append({
            "line_id": lid,
            "geom_wkb": wkb.linestring(
                np.array(pts, dtype=np.float64)
            ),
        })
    return pd.DataFrame(rows)


def _line_edges_values() -> str:
    """(lid, x1, y1, x2, y2) segment VALUES of the line fixture."""
    from gdal_spark import wkb

    vals = []
    for _, row in _line_fixture().iterrows():
        v = wkb.parse(bytes(row["geom_wkb"]))[1]
        for k in range(len(v) - 1):
            vals.append(
                f"({int(row['line_id'])}, {v[k][0]:.0f}e0,"
                f" {v[k][1]:.0f}e0, {v[k + 1][0]:.0f}e0,"
                f" {v[k + 1][1]:.0f}e0)"
            )
    return ", ".join(vals)


def _q_geo_clip_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-layer ∩ polygon-layer with KEEP_LOWER_DIMENSION_GEOMETRIES
    (ogr/ogrlayer.cpp:3514-3541): per-pair clipped length (µm-exact)
    over the full method set — donuts and multiparts included (hole
    interiors clip away)."""
    from gdal_spark.operators.layer_algebra import clip_line_pieces

    lines_df = spark.createDataFrame(_line_fixture())
    pieces = clip_line_pieces(lines_df, _la_fixture_b())
    return (
        pieces.groupBy("line_id", "b_id")
        .agg(F.sum("length").alias("len"))
        .select(
            "line_id", "b_id",
            F.round(F.col("len") * 1e6).cast("long").alias("len_q6"),
        )
        .filter(F.col("len_q6") >= 1)
    )


def _clip_lines_oracle_sql() -> str:
    """Cyrus-Beck in SQL: per (segment, convex component) the
    parametric interval from per-edge half-plane bounds; pair length
    = Σ sgn × interval × |segment| over signed components (donut hole
    runs subtract — hole ⊂ outer keeps it exact)."""
    le = _line_edges_values()
    be = _la_comp_edges_values()
    return f"""
        WITH le(lid, x1, y1, x2, y2) AS (VALUES {le}),
        seg AS (SELECT lid, x1, y1, x2, y2,
                       ROW_NUMBER() OVER (PARTITION BY lid
                                          ORDER BY x1, y1, x2, y2) AS sid,
                       SQRT((x2 - x1) * (x2 - x1)
                            + (y2 - y1) * (y2 - y1)) AS slen
                FROM le),
        be(bid, comp, sgn, ex1, ey1, ex2, ey2) AS (VALUES {be}),
        cons AS (
          SELECT s.lid, s.sid, b.bid, b.comp,
                 -(b.ey2 - b.ey1) * (s.x1 - b.ex1)
                 + (b.ex2 - b.ex1) * (s.y1 - b.ey1) AS c0,
                 -(b.ey2 - b.ey1) * (s.x2 - s.x1)
                 + (b.ex2 - b.ex1) * (s.y2 - s.y1) AS md
          FROM seg s CROSS JOIN be b),
        iv AS (
          SELECT lid, sid, bid, comp,
                 BOOL_OR(md = 0 AND c0 < 0) AS infeasible,
                 GREATEST(COALESCE(MAX(CASE WHEN md > 0
                                            THEN -c0 / md END), 0e0),
                          0e0) AS tlo,
                 LEAST(COALESCE(MIN(CASE WHEN md < 0
                                         THEN -c0 / md END), 1e0),
                       1e0) AS thi
          FROM cons GROUP BY lid, sid, bid, comp),
        sgns AS (SELECT DISTINCT bid, comp, sgn FROM be),
        pair AS (
          SELECT iv.lid, iv.bid,
                 SUM(sgns.sgn
                     * CASE WHEN iv.infeasible THEN 0e0
                            ELSE GREATEST(iv.thi - iv.tlo, 0e0) END
                     * s.slen) AS len
          FROM iv
          JOIN sgns ON sgns.bid = iv.bid AND sgns.comp = iv.comp
          JOIN seg s ON s.lid = iv.lid AND s.sid = iv.sid
          GROUP BY iv.lid, iv.bid)
        SELECT lid AS line_id, bid AS b_id,
               CAST(ROUND(len * 1e6) AS BIGINT) AS len_q6
        FROM pair
        WHERE CAST(ROUND(len * 1e6) AS BIGINT) >= 1"""


# ---------------------------------------------------------------------------
# ST predicates on polygon pairs — integer rectangle fixture
# ---------------------------------------------------------------------------

_SP_NA, _SP_NB = 30, 10


def _rect_fixture(n: int, seed: int, lo: int, hi: int) -> list[tuple]:
    """(pid, x0, y0, x1, y1) integer rects + engineered relation cases."""
    rects = []
    for pid in range(n):
        def h(k: int) -> int:
            return (pid * 2654435761 + k * 40503 + seed * 69069) % 2147483647

        x0 = -140 + (h(1) % 260)
        y0 = -60 + (h(2) % 100)
        w = lo + h(3) % (hi - lo)
        ht = lo + h(4) % (hi - lo)
        rects.append((pid, x0, y0, x0 + w, y0 + ht))
    return rects


def _sp_fixtures() -> tuple[list[tuple], list[tuple]]:
    a = _rect_fixture(_SP_NA, 11, 6, 26)
    b = _rect_fixture(_SP_NB, 23, 8, 34)
    # engineered relations against a0..a3: equals, edge-touch,
    # contained-in, containing
    ax = {r[0]: r for r in a}
    b[0] = (0, *ax[0][1:])                                   # equals a0
    _, x0, y0, x1, y1 = ax[1]
    b[1] = (1, x1, y0, x1 + 10, y1)                          # touches a1
    _, x0, y0, x1, y1 = ax[2]
    b[2] = (2, x0 + 1, y0 + 1, max(x0 + 2, x1 - 1),
            max(y0 + 2, y1 - 1))                             # within a2
    _, x0, y0, x1, y1 = ax[3]
    b[3] = (3, x0 - 2, y0 - 2, x1 + 2, y1 + 2)               # contains a3
    return a, b


def _rect_ring(x0, y0, x1, y1) -> np.ndarray:
    return np.array(
        [[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]],
        dtype=np.float64,
    )


def _q_geo_st_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARSE ST predicate matrix (Intersects/Disjoint/Equals/
    Contains/Within/Touches/Overlaps/Crosses) per bbox-overlapping
    (A, B) polygon pair — computed by the GENERAL polygon kernel
    (clip area + boundary contact), gated against interval arithmetic
    on the rect fixture. Sparse is the scale contract (absent pair ⇒
    disjoint; output bounded by candidates, never |A|·|B|); the
    dense=True compat mode and the sparse/dense equivalence are
    pytest-pinned in tests/test_layer_algebra.py."""
    from gdal_spark import wkb
    from gdal_spark.operators.layer_algebra import predicate_pairs

    a, b = _sp_fixtures()
    a_pdf = pd.DataFrame(
        {
            "a_id": [r[0] for r in a],
            "geom_wkb": [wkb.polygon([_rect_ring(*r[1:])]) for r in a],
        }
    )
    b_pdf = pd.DataFrame(
        {
            "poly_id": [r[0] for r in b],
            "geom_wkb": [wkb.polygon([_rect_ring(*r[1:])]) for r in b],
        }
    )
    return predicate_pairs(spark.createDataFrame(a_pdf), b_pdf)


def _st_predicates_oracle_sql() -> str:
    a, b = _sp_fixtures()
    av = ", ".join(f"({p}, {x0}, {y0}, {x1}, {y1})" for p, x0, y0, x1, y1 in a)
    bv = ", ".join(f"({p}, {x0}, {y0}, {x1}, {y1})" for p, x0, y0, x1, y1 in b)
    return f"""
        WITH ar(aid, x0, y0, x1, y1) AS (VALUES {av}),
        br(bid, x0, y0, x1, y1) AS (VALUES {bv}),
        p AS (
          SELECT ar.aid, br.bid,
                 GREATEST(ar.x0, br.x0) AS ix0, LEAST(ar.x1, br.x1) AS ix1,
                 GREATEST(ar.y0, br.y0) AS iy0, LEAST(ar.y1, br.y1) AS iy1,
                 (ar.x0 = br.x0 AND ar.y0 = br.y0
                  AND ar.x1 = br.x1 AND ar.y1 = br.y1) AS eq,
                 (br.x0 >= ar.x0 AND br.x1 <= ar.x1
                  AND br.y0 >= ar.y0 AND br.y1 <= ar.y1) AS cont,
                 (ar.x0 >= br.x0 AND ar.x1 <= br.x1
                  AND ar.y0 >= br.y0 AND ar.y1 <= br.y1) AS wthn
          FROM ar CROSS JOIN br)
        SELECT aid AS a_id, bid AS b_id,
          CAST(CASE WHEN ix0 <= ix1 AND iy0 <= iy1 THEN 1 ELSE 0 END
               AS BIGINT) AS st_intersects,
          CAST(CASE WHEN ix0 <= ix1 AND iy0 <= iy1 THEN 0 ELSE 1 END
               AS BIGINT) AS st_disjoint,
          CAST(CASE WHEN eq THEN 1 ELSE 0 END AS BIGINT) AS st_equals,
          CAST(CASE WHEN cont AND ix0 < ix1 AND iy0 < iy1 THEN 1 ELSE 0 END
               AS BIGINT) AS st_contains,
          CAST(CASE WHEN wthn AND ix0 < ix1 AND iy0 < iy1 THEN 1 ELSE 0 END
               AS BIGINT) AS st_within,
          CAST(CASE WHEN ix0 <= ix1 AND iy0 <= iy1
                     AND (ix0 = ix1 OR iy0 = iy1) THEN 1 ELSE 0 END
               AS BIGINT) AS st_touches,
          CAST(CASE WHEN ix0 < ix1 AND iy0 < iy1
                     AND NOT cont AND NOT wthn THEN 1 ELSE 0 END
               AS BIGINT) AS st_overlaps,
          CAST(0 AS BIGINT) AS st_crosses
        FROM p
        WHERE ix0 <= ix1 AND iy0 <= iy1"""


def _q_sql_st_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST functions THROUGH THE SQL STRING PATH: ``spark.sql`` text
    evaluating st_intersects in the JOIN condition and st_area /
    st_perimeter / st_centroid_x|y / st_contains / st_within /
    st_touches / st_npoints in the select list — the engine's analog
    of the reference's SQLite-dialect function registry
    (ogr/ogrsf_frmts/sqlite/ogrsqlitesqlfunctions.cpp:876-1054),
    wired by gdal_spark.stsql.register_st_functions to the same numpy
    kernels the DataFrame operators use. The oracle restates every
    value in closed rect-interval form (all quantities exact doubles:
    integer rects, dyadic centers)."""
    from gdal_spark import stsql
    from gdal_spark import wkb as _wkb

    stsql.register_st_functions(spark)
    a, b = _sp_fixtures()
    a_pdf = pd.DataFrame(
        {
            "a_id": [r[0] for r in a],
            "g": [_wkb.polygon([_rect_ring(*r[1:])]) for r in a],
        }
    )
    b_pdf = pd.DataFrame(
        {
            "b_id": [r[0] for r in b],
            "g": [_wkb.polygon([_rect_ring(*r[1:])]) for r in b],
        }
    )
    spark.createDataFrame(a_pdf).createOrReplaceTempView("st_a")
    spark.createDataFrame(b_pdf).createOrReplaceTempView("st_b")
    return spark.sql(
        """
        SELECT a.a_id, b.b_id,
               CAST(st_contains(a.g, b.g) AS BIGINT) AS has_b,
               CAST(st_within(a.g, b.g) AS BIGINT) AS in_b,
               CAST(st_touches(a.g, b.g) AS BIGINT) AS tch,
               st_area(a.g) AS area_a,
               st_perimeter(b.g) AS perim_b,
               st_centroid_x(a.g) AS cx_a,
               st_centroid_y(a.g) AS cy_a,
               st_npoints(a.g) AS np_a
        FROM st_a a JOIN st_b b
          ON st_intersects(a.g, b.g)
        """
    )


def _sql_st_funcs_oracle_sql() -> str:
    a, b = _sp_fixtures()
    av = ", ".join(f"({p}, {x0}, {y0}, {x1}, {y1})" for p, x0, y0, x1, y1 in a)
    bv = ", ".join(f"({p}, {x0}, {y0}, {x1}, {y1})" for p, x0, y0, x1, y1 in b)
    return f"""
        WITH ar(aid, ax0, ay0, ax1, ay1) AS (VALUES {av}),
        br(bid, bx0, by0, bx1, by1) AS (VALUES {bv}),
        p AS (
          SELECT *,
                 GREATEST(ax0, bx0) AS ix0, LEAST(ax1, bx1) AS ix1,
                 GREATEST(ay0, by0) AS iy0, LEAST(ay1, by1) AS iy1,
                 (bx0 >= ax0 AND bx1 <= ax1
                  AND by0 >= ay0 AND by1 <= ay1) AS cont,
                 (ax0 >= bx0 AND ax1 <= bx1
                  AND ay0 >= by0 AND ay1 <= by1) AS wthn
          FROM ar CROSS JOIN br)
        SELECT aid AS a_id, bid AS b_id,
          CAST(CASE WHEN cont AND ix0 < ix1 AND iy0 < iy1
               THEN 1 ELSE 0 END AS BIGINT) AS has_b,
          CAST(CASE WHEN wthn AND ix0 < ix1 AND iy0 < iy1
               THEN 1 ELSE 0 END AS BIGINT) AS in_b,
          CAST(CASE WHEN (ix0 = ix1 OR iy0 = iy1)
               THEN 1 ELSE 0 END AS BIGINT) AS tch,
          CAST((ax1 - ax0) * (ay1 - ay0) AS DOUBLE) AS area_a,
          CAST(2 * ((bx1 - bx0) + (by1 - by0)) AS DOUBLE) AS perim_b,
          (ax0 + ax1) / 2e0 AS cx_a,
          (ay0 + ay1) / 2e0 AS cy_a,
          CAST(5 AS BIGINT) AS np_a
        FROM p
        WHERE ix0 <= ix1 AND iy0 <= iy1
    """


def _q_sql_spatial_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The geo_st_predicates matrix THROUGH THE SQL STRING PATH, at
    scale: ``stsql.spatial_join_sql`` rewrites
    ``FROM A a JOIN B b ON st_intersects(a.g, b.g)`` into the sparse
    cell-cover candidate EQUI-join (predicate_pairs_join) before
    Catalyst plans it, so the physical plan is hash joins — never the
    BroadcastNestedLoopJoin a black-box-UDF theta-join produces (the
    reference's SQLite dialect evaluates exactly such joins row by
    row: ogr/ogrsf_frmts/sqlite/ogrsqlitesqlfunctions.cpp:876-883).
    Select-list st_pred(a, b) calls read pair-table columns
    (direction-aware); st_disjoint falls through to the registered
    per-row UDF over the already-sparse joined rows. No-BNLJ plan pin
    + SQL≡DataFrame-path equality live in tests/test_stsql.py."""
    from gdal_spark import stsql
    from gdal_spark import wkb as _wkb

    stsql.register_st_functions(spark)
    a, b = _sp_fixtures()
    a_df = spark.createDataFrame(pd.DataFrame(
        {
            "a_id": [r[0] for r in a],
            "geom_wkb": [_wkb.polygon([_rect_ring(*r[1:])]) for r in a],
        }
    ))
    b_df = spark.createDataFrame(pd.DataFrame(
        {
            "poly_id": [r[0] for r in b],
            "geom_wkb": [_wkb.polygon([_rect_ring(*r[1:])]) for r in b],
        }
    ))
    preds = ("intersects", "disjoint", "equals", "contains", "within",
             "touches", "overlaps", "crosses")
    sel = ",\n               ".join(
        f"CAST(st_{p}(a.geom_wkb, b.geom_wkb) AS BIGINT) AS st_{p}"
        for p in preds
    )
    return stsql.spatial_join_sql(
        spark,
        f"""
        SELECT a.a_id AS a_id, b.poly_id AS b_id,
               {sel}
        FROM sj_a a JOIN sj_b b
          ON st_intersects(a.geom_wkb, b.geom_wkb)
        """,
        tables={"sj_a": a_df, "sj_b": b_df},
        id_cols={"sj_a": "a_id", "sj_b": "poly_id"},
    )


def _q_geo_buffer_makevalid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL-polygon ST_Buffer + ST_MakeValid, value-exact: convex,
    holed (surviving sharp-cornered hole) and multipart buffers plus
    bowtie / bowtie-hole / overlapping-invalid-multipart repairs, all
    evaluated THROUGH THE SQL STRING PATH (st_area(st_buffer(g,2)) /
    st_area(st_makevalid(g))). The oracle states each area in closed
    form: rect buffer = A + P·d + 4 inscribed corner fans
    (qs·½·d²·sin(π/16) each — the engine's shoelace over the sampled
    arc polygon equals it to ulps), a >2d hole erodes to
    (w-2d)(h-2d) exactly (corner fans provably lie inside the edge
    strips), make-valid areas are integer. Quantized ×100, every
    fixture value ≥0.07 from a rounding boundary.
    Reference: ogr/ogrgeometry.cpp:4526 (Buffer), :3922 (MakeValid),
    through ogrsqlitesqlfunctions.cpp:997's SQL surface."""
    from gdal_spark import stsql
    from gdal_spark import wkb as _wkb

    stsql.register_st_functions(spark)
    bow = np.array(
        [[0, 0], [2, 2], [2, 0], [0, 2], [0, 0]], dtype=np.float64
    )
    bow_hole = np.array(
        [[2, 2], [6, 6], [6, 2], [2, 6], [2, 2]], dtype=np.float64
    )
    rows = [
        (0, "buffer", _wkb.polygon([_rect_ring(0, 0, 20, 10)])),
        (1, "buffer", _wkb.polygon(
            [_rect_ring(0, 0, 30, 20), _rect_ring(10, 5, 20, 12)]
        )),
        (2, "buffer", _wkb.multipolygon(
            [[_rect_ring(100, 0, 108, 6)], [_rect_ring(130, 0, 142, 6)]]
        )),
        (3, "makevalid", _wkb.polygon([bow])),
        (4, "makevalid", _wkb.polygon(
            [_rect_ring(0, 0, 10, 10), bow_hole]
        )),
        (5, "makevalid", _wkb.multipolygon(
            [[_rect_ring(0, 0, 4, 4)], [_rect_ring(2, 2, 6, 6)]]
        )),
    ]
    pdf = pd.DataFrame(rows, columns=["gid", "op", "g"])
    spark.createDataFrame(pdf).createOrReplaceTempView("bm_fixture")
    return spark.sql(
        """
        SELECT CAST(gid AS BIGINT) AS gid, op,
               CAST(ROUND(CASE WHEN op = 'buffer'
                          THEN st_area(st_buffer(g, 2.0))
                          ELSE st_area(st_makevalid(g)) END * 100)
                    AS BIGINT) AS area_q2
        FROM bm_fixture
        """
    )


_GEO_BUFFER_MAKEVALID_ORACLE = """
    WITH v(gid, op, area) AS (VALUES
      (0, 'buffer',    320e0 + 64e0 * SIN(PI() / 16e0)),
      (1, 'buffer',    782e0 + 64e0 * SIN(PI() / 16e0)),
      (2, 'buffer',    248e0 + 128e0 * SIN(PI() / 16e0)),
      (3, 'makevalid', 2e0),
      (4, 'makevalid', 92e0),
      (5, 'makevalid', 28e0))
    SELECT CAST(gid AS BIGINT) AS gid, op,
           CAST(ROUND(area * 100) AS BIGINT) AS area_q2
    FROM v
"""


def _lang_id_oracle_sql() -> str:
    from gdal_spark.operators.text import LANG_MARKERS

    score_cols = []
    for lang, words in LANG_MARKERS.items():
        terms = " + ".join(
            f"CAST((LENGTH(text) - LENGTH(REPLACE(text, ' {w} ', '')))"
            f" / {len(w) + 2} AS BIGINT)"
            for w in words
        )
        score_cols.append(f"({terms}) AS s_{lang}")
    langs = sorted(LANG_MARKERS)  # tie-break: first in sorted order wins
    case = "CASE"
    for i, lang in enumerate(langs):
        others = [f"s_{lang} >= s_{o}" for o in langs[i + 1:]]
        cond = " AND ".join([*others, f"s_{lang} > 0"]) or f"s_{lang} > 0"
        prior = [f"s_{o} < s_{lang}" for o in langs[:i]]
        if prior:
            cond = " AND ".join([*prior, cond])
        case += f" WHEN {cond} THEN '{lang}'"
    case += " ELSE 'unk' END"
    return f"""
        WITH s AS (SELECT doc_id, {', '.join(score_cols)} FROM documents)
        SELECT doc_id, {case} AS lang_guess FROM s"""


def _q_dd_sample_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic corpus mixture (the GPT-3 appendix-A / MassiveText
    weighting rule): 2.3 epochs of en, 1.0 of de, 0.4 of fr, 0.25 of
    everything else. The keep/copy decision is a pure function of the
    ROW — 13 hex digits of md5(doc_id ':' seed) compared against each
    rate's hex threshold — so the sample is identical under any
    partitioning and any engine with a standard md5() reproduces it
    bit-for-bit (this gate's oracle does). Epoch ids are 0-based copy
    numbers. One codegen filter + one explode(sequence); no shuffle."""
    from gdal_spark.operators.sampling import weighted_mixture

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return weighted_mixture(
        docs,
        {"en": 2.3, "de": 1.0, "fr": 0.4},
        key_col="lang",
        id_col="doc_id",
        seed=7,
        default_weight=0.25,
        hash="md5",
    )


def _sample_mixture_oracle_sql() -> str:
    from gdal_spark.operators.sampling import _hex_threshold

    weights = {"en": 2.3, "de": 1.0, "fr": 0.4}
    default = 0.25
    base = "CASE lang"
    thresh = "CASE lang"
    for k, w in weights.items():
        base += f" WHEN '{k}' THEN {int(w)}"
        thresh += f" WHEN '{k}' THEN '{_hex_threshold(w - int(w))}'"
    base += f" ELSE {int(default)} END"
    thresh += f" ELSE '{_hex_threshold(default - int(default))}' END"
    return f"""
        WITH keyed AS (
          SELECT doc_id, lang,
                 substring(md5(CAST(doc_id AS VARCHAR) || ':7'), 1, 13) AS k
          FROM documents
        ), counted AS (
          SELECT doc_id, lang,
                 CAST({base}
                      + CASE WHEN k < {thresh} THEN 1 ELSE 0 END
                      AS BIGINT) AS n
          FROM keyed
        )
        SELECT doc_id, lang,
               unnest(generate_series(CAST(0 AS BIGINT), n - 1)) AS epoch
        FROM counted WHERE n > 0"""


def _q_rs_pansharpen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench-only: weighted-Brovey pansharpen (alg/gdalpansharpen.cpp)
    of a 1024x1024 pan + 3 x 512x512 MS bands at ratio 2 — per-band
    halo exchange + one co-partitioned tile join + one Arrow combine
    kernel (exactness pinned in tests/test_pansharpen.py)."""
    from gdal_spark.operators.pansharpen import pansharpen
    from gdal_spark.operators.tiling import formula_tiles

    pan = formula_tiles(spark, 8, 8, 128)
    ms = [formula_tiles(spark, 8, 8, 64) for _ in range(3)]
    return pansharpen(pan, ms, [0.4, 0.35, 0.25], 2)


def _q_rs_pct_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench-only: median-cut PCT (alg/gdalmediancut.cpp) — the
    DISTRIBUTED bounded histogram (driver sees <= 32768 rows at any
    raster size), driver-side exact box splits, then the distributed
    nearest-color cube map back over the tiles
    (alg/gdaldither.cpp non-dither path)."""
    import pyspark.sql.functions as F_

    from gdal_spark.operators import pct
    from gdal_spark.operators.tiling import formula_tiles

    # three offset formula planes as R/G/B tile payloads on one grid
    base = formula_tiles(spark, 8, 8, 64)

    def shifted(df, k):
        # value shift keeps payload bytes = uint8 formula plane
        return df.select(
            "tx", "ty", "w", "h", F_.col("data").alias(f"b{k}")
        )

    rgb = (
        shifted(base, 0)
        .join(shifted(formula_tiles(spark, 8, 8, 64), 1), ["tx", "ty", "w", "h"])
        .join(shifted(formula_tiles(spark, 8, 8, 64), 2), ["tx", "ty", "w", "h"])
        .select(
            "tx", "ty", "w", "h",
            F_.col("b0").alias("r"),
            F_.col("b1").alias("g"),
            F_.col("b2").alias("b"),
        )
    )
    table = pct.median_cut_pct(pct.rgb_histogram(rgb, bits=5), 64)
    return pct.pct_map_tiles(rgb, table, bits=5)


def _q_tx_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench-only: BPE tokenizer end-to-end over the documents table —
    distributed word histogram (codegen regexp explode + one groupBy),
    driver-side merge fold over the bounded top-words histogram, then
    the Arrow encode kernel over every document (Zipf word cache).
    Exactness pinned in tests/test_bpe.py."""
    from gdal_spark.operators import bpe

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    merges = bpe.train_bpe(
        bpe.word_histogram(docs), num_merges=300, min_count=2,
        max_words=50_000,
    )
    return bpe.bpe_encode(docs, merges).select("doc_id", "n_tokens")


def _q_tx_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench-only: CCNet-style perplexity scoring via the UNBOUNDED
    join path — trigram stupid-backoff model trained on the corpus
    (three counting aggs), then positions explode with their backoff
    ladder and join the count tables; exactness pinned against the
    broadcast-path twin in tests/test_lm.py."""
    from gdal_spark.operators import lm

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    model = lm.train_ngram_lm(docs, order=3)
    return lm.score_perplexity_join(docs, model)


def _gpkg_bench_fixture(n: int = 50_000) -> str:
    """The reference's own ogr2ogr benchmark source
    (autotest/benchmark/test_ogr2ogr.py:26-43): n point features with
    20 string fields `field{i}` = `value{i}`, point (400000+i, i), in
    one GPKG. Built once per machine with stdlib sqlite3 (cached —
    the rig times the TRANSLATE, not the fixture)."""
    import sqlite3

    from gdal_spark import gpkg as _gpkg
    from gdal_spark import wkb as _wkb

    path = f"/tmp/gdal_spark_bench/ogr2ogr_src_{n}.gpkg"
    if os.path.exists(path):
        return path
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    con = sqlite3.connect(tmp)
    con.execute("PRAGMA application_id = 0x47504B47")
    for ddl in _gpkg._GPKG_META_DDL:
        con.execute(ddl)
    con.execute(
        "INSERT INTO gpkg_spatial_ref_sys VALUES "
        "('undefined', 0, 'NONE', 0, 'undefined', NULL)"
    )
    fields = ", ".join(f'"field{i}" TEXT' for i in range(20))
    con.execute(
        f'CREATE TABLE test (fid INTEGER PRIMARY KEY, {fields}, '
        '"geometry" BLOB)'
    )
    vals = [f"value{i}" for i in range(20)]
    rows = (
        tuple(vals) + (_gpkg.wkb_to_gpb(_wkb.point(400000.0 + i, float(i))),)
        for i in range(n)
    )
    ph = ", ".join("?" * 21)
    names = ", ".join(f'"field{i}"' for i in range(20)) + ', "geometry"'
    con.executemany(f"INSERT INTO test ({names}) VALUES ({ph})", rows)
    con.execute(
        "INSERT INTO gpkg_contents VALUES (?, 'features', ?, '', "
        "datetime('now'), 400000, 0, ?, ?, 0)",
        ("test", "test", 400000.0 + n, float(n)),
    )
    con.execute(
        "INSERT INTO gpkg_geometry_columns VALUES "
        "('test', 'geometry', 'POINT', 0, 0, 0)"
    )
    con.commit()
    con.close()
    os.replace(tmp, path)
    return path


def _q_src_gpkg_copy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench-only: the reference's ogr2ogr benchmark rig
    (autotest/benchmark/test_ogr2ogr.py — VectorTranslate of a
    50,000-feature 20-field point GPKG to a new GPKG), run through
    this engine's rowid-ranged parallel GPKG scan + partition-parallel
    GPKG sink. Returns the sink manifest."""
    import shutil

    from gdal_spark import gpkg as _gpkg

    src = _gpkg_bench_fixture()
    out = "/tmp/gdal_spark_bench/ogr2ogr_out"
    shutil.rmtree(out, ignore_errors=True)
    df = _gpkg.read_gpkg_ranged(spark, src, "test", rows_per_task=6250)
    return _gpkg.write_gpkg_dir(
        df.drop("rowid", "fid"), out, table="test"
    )


def _q_src_fgb_copy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench-only: the ogr2ogr 50k-feature translate rig
    (autotest/benchmark/test_ogr2ogr.py shape) through FlatGeobuf —
    ranged read of one indexed 50k-point 20-field .fgb (driver touches
    header + R-tree only; executors seek-read feature ranges) into the
    granule-parallel .fgb sink. Fixture cached outside the timing;
    codec exactness pinned in tests/test_fgb.py. Returns the manifest."""
    import shutil

    from gdal_spark import fgb as _fgb
    from gdal_spark import wkb as _wkb

    n = 50_000
    src = f"/tmp/gdal_spark_bench/fgb_src_{n}.fgb"
    if not os.path.exists(src):
        os.makedirs(os.path.dirname(src), exist_ok=True)
        pdf = pd.DataFrame({
            **{f"field{i}": [f"value{i}"] * n for i in range(20)},
            "geometry": [
                _wkb.point(400000.0 + i, float(i)) for i in range(n)
            ],
        })
        tmp = src + ".tmp"
        with open(tmp, "wb") as f:
            f.write(_fgb.fgb_encode(pdf))
        os.replace(tmp, src)
    out = "/tmp/gdal_spark_bench/fgb_out"
    shutil.rmtree(out, ignore_errors=True)
    df = _fgb.read_fgb(spark, src, records_per_task=6250)
    return _fgb.write_fgb_dir(df.drop("fid"), out)


def _q_snk_cog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench-only: granule-parallel COG sink with embedded overview
    IFDs (frmts/cog/cogdriver.cpp + gdaladdo analog) — 4 granules of
    1024² formula pixels each, written concurrently as full COGs
    (tiled DEFLATE, average overviews down to one tile). Exactness is
    pinned in tests/test_cog.py (every level reads back byte-exact).
    Returns the sink manifest."""
    import shutil

    from gdal_spark.gtiff import write_gtiff_dir
    from gdal_spark.operators.tiling import formula_tiles

    out = "/tmp/gdal_spark_bench/cog_out"
    shutil.rmtree(out, ignore_errors=True)
    ts = 256
    tiles = formula_tiles(spark, 8, 8, ts)
    # 4 granules of 4x4 tiles: granule key = (ty//4)*2 + tx//4
    keyed = tiles.withColumn(
        "gk", (F.col("ty") / 4).cast("long") * 2
        + (F.col("tx") / 4).cast("long")
    )
    return write_gtiff_dir(
        keyed, out, group_col="gk",
        geotransform=(0.0, 10.0, 0.0, 20480.0, 0.0, -10.0),
        epsg=3857, cog_overviews="average",
    )


def _q_snk_mbtiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench-only: MBTiles container sink
    (frmts/mbtiles/mbtilesdataset.cpp analog) — a z=3→0 overview
    pyramid of formula tiles PNG-encoded into one SQLite container
    (spec TMS row flip, metadata table). Exactness pinned in
    tests/test_mbtiles.py. Returns the sink manifest."""
    from gdal_spark.mbtiles import write_mbtiles
    from gdal_spark.operators.tiling import formula_tiles, pyramid

    out = "/tmp/gdal_spark_bench/tiles.mbtiles"
    base = formula_tiles(spark, 8, 8, 256).withColumn(
        "z", F.lit(3).cast("long")
    ).select("z", "tx", "ty", "w", "h", "data")
    tiles = pyramid(base, 3, 0, "average")
    return write_mbtiles(tiles, out, format="png", name="bench")


def _q_snk_pmtiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench-only: PMTiles v3 archive sink (ogr/ogrsf_frmts/pmtiles
    analog) — the same z=3→0 PNG pyramid as snk_mbtiles written as
    clustered Hilbert-ordered archives (granule-parallel). Exactness
    pinned in tests/test_pmtiles.py. Returns the sink manifest."""
    import shutil

    from gdal_spark.operators.tiling import formula_tiles, pyramid
    from gdal_spark.pmtiles import write_pmtiles_dir

    out = "/tmp/gdal_spark_bench/pmtiles_out"
    shutil.rmtree(out, ignore_errors=True)
    base = formula_tiles(spark, 8, 8, 256).withColumn(
        "z", F.lit(3).cast("long")
    ).select("z", "tx", "ty", "w", "h", "data")
    tiles = pyramid(base, 3, 0, "average")

    def enc(batches):
        from gdal_spark.png import png_encode

        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                a = np.frombuffer(r.data, dtype=np.uint8).reshape(
                    int(r.h), int(r.w)
                )
                rows.append(
                    (int(r.z), int(r.tx), int(r.ty), png_encode(a))
                )
            yield pd.DataFrame(
                rows, columns=["z", "tx", "ty", "data"]
            )

    enc_tiles = tiles.mapInPandas(
        enc, "z long, tx long, ty long, data binary"
    )
    return write_pmtiles_dir(enc_tiles, out, fmt="png", group_col="z")


# ---------------------------------------------------------------------------
# the query table: the only place a query name is listed
# ---------------------------------------------------------------------------


class Query(NamedTuple):
    """One row of ``QUERIES``.

    A row with an ``oracle`` is a gate: ``queries()`` and
    ``oracle_sql()`` list exactly those rows (the correctness gate is
    capped at 50 rows). ``bench=True`` rows are timed by ``bench.py``
    in table order, the order of the BENCH_r0x ledgers. Every row is
    one or both.
    """

    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    bench: bool


QUERIES: dict[str, Query] = {
    # north-rule spatial core
    "sp_pip_engine": Query(_q_pip_engine, None, True),
    "sp_pip_count": Query(_q_pip_count_engine, None, True),
    "sp_pip_full_fixture": Query(
        _q_pip_full_fixture,
        PIP_ORACLE_SQL.format(values=_testdata_edges_values()),
        False,
    ),
    "sp_knn_df": Query(_q_knn_df, _KNN_DF_ORACLE, True),
    "sp_cell_encode": Query(
        _sql_query(_CELL_ENCODE_SQL), _CELL_ENCODE_SQL, True
    ),
    "sp_tile_assign": Query(
        _sql_query(_TILE_ASSIGN_SQL), _TILE_ASSIGN_SQL, True
    ),
    "sp_grid_metrics": Query(_sql_query(_GRID_METRICS_SQL), None, True),
    "sp_utm_transform": Query(_sql_query(_utm_sql()), None, True),
    "sp_idw_grid": Query(_q_sp_idw_grid, _IDW_ORACLE, True),
    # vector geometry / layer algebra
    "geo_layer_algebra": Query(
        _q_geo_layer_algebra, _layer_algebra_oracle_sql(), True
    ),
    "geo_layer_algebra_big": Query(
        _q_geo_layer_algebra_big, _layer_algebra_oracle_sql(), True
    ),
    "geo_st_predicates": Query(_q_geo_st_predicates, None, True),
    "geo_curve_linearize": Query(
        _q_geo_curve_linearize, _CURVE_LINEARIZE_ORACLE, True
    ),
    "geo_clip_lines": Query(_q_geo_clip_lines, _clip_lines_oracle_sql(), True),
    "geo_area_geodesic": Query(
        _q_geo_area_geodesic, _geodesic_oracle_sql(), True
    ),
    # raster / tiling
    "rs_pyramid_checksum": Query(_q_rs_pyramid, _pyramid_oracle_sql(), True),
    "rs_warp_nearest": Query(_warp_query("nearest"), None, True),
    "rs_warp_bilinear": Query(_warp_query("bilinear"), None, True),
    "rs_warp_cubic": Query(_warp_query("cubic"), None, True),
    "rs_warp_utm": Query(_q_rs_warp_utm, _warp_utm_oracle_sql(), True),
    "rs_warp_lcc": Query(_q_rs_warp_lcc, None, True),
    "rs_warp_albers": Query(
        _q_rs_warp_albers, _warp_albers_oracle_sql(), False
    ),
    "rs_warp_aggregate": Query(
        _q_rs_warp_aggregate, _warp_aggregate_oracle_sql(), True
    ),
    "rs_overview_resamplers": Query(
        _q_rs_overview_resamplers, _overview_resamplers_oracle_sql(), True
    ),
    "rs_contour_lines": Query(_q_rs_contour_lines, None, True),
    "rs_contour_polygons": Query(
        _q_rs_contour_polygons, _contour_polygons_oracle_sql(), True
    ),
    "rs_polygonize": Query(_q_rs_polygonize, _POLYGONIZE_ORACLE, True),
    "rs_sieve_checksum": Query(_q_rs_sieve, _SIEVE_ORACLE, False),
    "rs_proximity": Query(_q_rs_proximity, _proximity_oracle_sql(), False),
    "rs_grid_linear": Query(
        _q_rs_grid_linear, _grid_linear_oracle_sql(), True
    ),
    "rs_burn_lines": Query(_q_rs_burn_lines, None, True),
    "rs_fill_all_touched": Query(
        _q_rs_fill_all_touched, _fill_all_touched_oracle_sql(), True
    ),
    "rs_rasterize_add": Query(_q_rs_rasterize_add, None, True),
    "rs_band_stats": Query(_q_rs_band_stats, _band_stats_oracle_sql(), True),
    "rs_vrt_pixfn": Query(_q_rs_vrt_pixfn, _vrt_pixfn_oracle_sql(), True),
    "rs_dem_focal": Query(_q_rs_dem_focal, _dem_focal_oracle_sql(), True),
    "rs_viewshed": Query(_q_rs_viewshed, _viewshed_oracle_sql(), True),
    "sp_utm_inverse": Query(
        _q_sp_utm_inverse, _utm_inverse_oracle_sql(), True
    ),
    # relational spine (incl. the OGR SQL front-end)
    "q1_pricing_summary": Query(_sql_query(_Q1_SQL), _Q1_SQL, True),
    "q3_shipping_topk": Query(_sql_query(_Q3_SQL), None, True),
    "q5_local_supplier": Query(_sql_query(_Q5_SQL), None, True),
    "q_ogr_sql": Query(_q_ogr_sql, _OGR_SQL_ORACLE, True),
    "q_ogr_sql_join": Query(_q_ogr_sql_join, _OGR_SQL_JOIN_ORACLE, False),
    "q_sql_st_funcs": Query(_q_sql_st_funcs, _sql_st_funcs_oracle_sql(), True),
    "q_sql_spatial_join": Query(
        _q_sql_spatial_join, _st_predicates_oracle_sql(), True
    ),
    "q_sessionize": Query(_sql_query(_SESSIONIZE_SQL), None, True),
    # vector union + constructive ops via SQL; GCP and datum transforms
    "geo_dissolve": Query(_q_geo_dissolve, _GEO_DISSOLVE_ORACLE, True),
    "geo_buffer_makevalid": Query(
        _q_geo_buffer_makevalid, _GEO_BUFFER_MAKEVALID_ORACLE, True
    ),
    "sp_gcp_poly": Query(_q_sp_gcp_poly, _gcp_poly_oracle_sql(), True),
    "sp_datum_shift": Query(
        _q_sp_datum_shift, _datum_shift_oracle_sql(), True
    ),
    # container sources (WARC sf-sized; GeoTIFF COG path)
    "src_warc": Query(_q_src_warc, _SRC_WARC_ORACLE, True),
    "src_gtiff": Query(_q_src_gtiff, _SRC_GTIFF_ORACLE, True),
    # training-data pipeline ops
    "dd_exact_prefix": Query(_q_dd_exact, None, True),
    "dd_minhash_lsh": Query(_q_dd_minhash, _MINHASH_ORACLE, True),
    "dd_simhash": Query(_q_dd_simhash, _SIMHASH_ORACLE, False),
    "dd_dup_clusters": Query(_q_dd_dup_clusters, _DUP_CLUSTERS_ORACLE, True),
    "dd_substring_spans": Query(
        _q_dd_substring_spans, _substring_spans_oracle_sql(), True
    ),
    "dd_contamination": Query(
        _q_dd_contamination, _DD_CONTAMINATION_ORACLE, True
    ),
    "tx_token_count": Query(_q_tx_tokens, None, True),
    "tx_repetition": Query(_q_tx_repetition, _REPETITION_ORACLE, True),
    "tx_web_clean": Query(_q_tx_web_clean, _web_clean_oracle_sql(), True),
    "tx_html_extract": Query(
        _q_tx_html_extract, _TX_HTML_EXTRACT_ORACLE, True
    ),
    "tx_lang_id": Query(_q_tx_lang_id, _lang_id_oracle_sql(), False),
    "dd_line_dedup": Query(_q_dd_line_dedup, _DD_LINE_DEDUP_ORACLE, True),
    "sim_cosine_topk": Query(_q_sim_cosine, None, True),
    "sim_ann_lsh": Query(_q_sim_ann, None, True),
    "sim_ann_ivf": Query(_q_sim_ivf, _ann_oracle_sql(), True),
    "dd_sample_mixture": Query(
        _q_dd_sample_mixture, _sample_mixture_oracle_sql(), True
    ),
    # GDAL-exact checksum, pansharpen, median-cut PCT
    "rs_checksum_gdal": Query(_q_rs_checksum, _checksum_oracle_sql(), True),
    "rs_pansharpen": Query(_q_rs_pansharpen, None, True),
    "rs_pct_map": Query(_q_rs_pct_map, None, True),
    # ogr2ogr benchmark rig (50k-feature point GPKG / FGB translate)
    "src_gpkg_copy": Query(_q_src_gpkg_copy, None, True),
    "src_fgb_copy": Query(_q_src_fgb_copy, None, True),
    # BPE train + encode; trigram stupid-backoff perplexity
    "tx_bpe": Query(_q_tx_bpe, None, True),
    "tx_perplexity": Query(_q_tx_perplexity, None, True),
    # container sinks: COG with embedded overviews, MBTiles, PMTiles
    "snk_cog": Query(_q_snk_cog, None, True),
    "snk_mbtiles": Query(_q_snk_mbtiles, None, True),
    "snk_pmtiles": Query(_q_snk_pmtiles, None, True),
}


# ---------------------------------------------------------------------------
# driver contract
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: spatial join + count on sf0.001 derived points."""
    sf_dir = "/root/testdata/sf0.001"
    return _q_pip_count_engine(spark, sf_dir)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {n: q.fn for n, q in QUERIES.items() if q.oracle is not None}


def oracle_sql() -> dict[str, str]:
    return {n: q.oracle for n, q in QUERIES.items() if q.oracle is not None}


def bench_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """The ``bench.py`` suite, in table order."""
    return {n: q.fn for n, q in QUERIES.items() if q.bench}
