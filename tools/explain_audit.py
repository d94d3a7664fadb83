"""Dump formatted physical plans of the headline operators → PLANS.md.

The written record of the `.explain("formatted")` audit loop: for each
hot-path operator, the executed plan plus a note on why this is the
intended plan (what broadcasts, what shuffles, where Python sits).
Regenerate after plan-affecting changes:

    python tools/explain_audit.py
"""

from __future__ import annotations

import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pandas as pd
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"

NOTES = {
    "spatial_join": """Intended shape: no Python node anywhere, and the point side
NEVER shuffles — cell ids are one codegen'd Generate (explode of the
per-level cell expressions, the levels read from the driver's cover:
planning runs no Spark job), and the cover table, whose boundary rows
carry their clipped edges and parts, broadcasts (BroadcastHashJoin)
with its columns under `__` names. Catalyst pushes the refine filter
into that join as its condition:
`__full OR aggregate(__edges, …, _m0 -> exists(__parts, …))`. The OR accepts
full-cover pairs before the exact test; a boundary pair runs one
ray-cast aggregate over its edges, whose finish lambda binds the
parity mask once for the exists over the parts. One narrow pipeline
source→result.""",
    "spatial_join_count": """Same join core + a partial HashAggregate before the single
exchange on poly_id (map-side combine; ~100 groups).""",
    "burn_points_tiles": """Shuffles carry DEDUPED PIXELS, not points: partial_count
HashAggregate sits upstream of both exchanges; FlatMapGroupsInPandas
only assembles dense tiles from per-pixel counts.""",
    "pyramid": """Average pyramid z=2 -> 0 over 4x4 formula tiles, then
tile_checksums; AQE's final plan, taken after it ran. Each
level is hash-partitioned on its parent key (REPARTITION_BY_COL) once:
the level's union branch reads that exchange, and the next level's
FlatMapGroupsInPandas reads it again as a ReusedExchange, with no
second shuffle. So the base's and each level's kernel run once (over a
point burn: L + 1 Python nodes, not the 2L + 1 of a union whose every
branch recomputed the levels below it).""",
    "knn_join_df_round1": """First ring iteration of the distributed kNN: offsets explode
is pure codegen, candidate cells broadcast against bucketed points,
row_number window ranks per query. Later rings repeat on the shrinking
pending set.""",
    "q1_pricing_summary": """Classic scan→partial agg→exchange→final agg; filters pushed
to the parquet scan (PushedFilters), only referenced columns read
(ReadSchema).""",
    "extract_features": """No Python: one Generate posexplode over regexp_extract_all on
a pruned (url, text) projection, then two casts, all in one
whole-stage codegen stage (*(2)). The MapInPandas under it is the
synthetic pages generator standing in for the scan; a real scan
never materializes html/warc_ts/lang.""",
    "layer_intersection": """Layer algebra A∩B: ONE narrow mapInPandas over the A scan —
the convex B set rides a SparkContext broadcast (not visible as a
plan node), the bbox pretest and clipping happen per batch, and no
shuffle exists anywhere: output piece rows stream straight out.
Scale = rows(A), embarrassingly parallel.""",
    "warp_aggregate": """Warp-time aggregates: the mapInPandas emits per-tile value
HISTOGRAMS (np.unique map-side combine), then ONE exchange on
(di, dj, val) merges histograms (partial_sum before it), and the
window/order statistics run on ≤256 rows per dst pixel. The shuffle
never carries pixels.""",
    "idw_grid_quantized": """IDW scatter: offsets explode + weight arithmetic are pure
codegen (WholeStageCodegen, no Python anywhere), partial HashAggregate
sits before the single exchange on (cell_ix, cell_iy).""",
    "intersection_join": """DataFrame×DataFrame layer algebra: both sides map to grid
cell-cover rows, candidate pairs come from an EQUI-join on cell_id
(SortMergeJoin/ShuffledHashJoin — no CartesianProduct, no
BroadcastNestedLoopJoin, no driver-resident method layer), pairs
dedupe, geometries join back by id, and the clip kernel is one final
mapInPandas. Every shuffle is keyed; AQE handles hot-cell skew.""",
    "duplicated_spans": """ExactSubstr span dedup: window grams are pure codegen
(split/transform/slice/posexplode), BOTH exchanges partition on the
64-bit xxhash64 gram key — shuffle volume independent of document
size — with partial_count map-side combine on the dup-key side
(skew-safe under boilerplate windows repeated 10^9 times), then one
exchange on the doc id for the LAG gap-merge windows. No Python
anywhere.""",
    "dissolve": """Aggregate ST_Union, ADAPTIVE: an eager count job (key column
only, map-side combine) picks the plan. No key above the threshold —
as here — plans ONE exchange on the dissolve key feeding a single
FlatMapGroupsInPandas fold (the reference's one-cascaded-union-per-
group model, geometry never shuffled twice); a skewed input instead
salts ONLY its hot keys into a two-level fold whose re-fold passes
single pre-rows through untouched (plan-shape pins in
tests/test_dissolve.py).""",
    "spatial_join_sql": """SQL-string spatial join through the front-end rewrite: the
st_intersects theta-join becomes the sparse cell-cover pair table
equi-joined back by id, so the plan is hash joins end to end — NO
BroadcastNestedLoopJoin, NO CartesianProduct (a registered-UDF
theta-join would plan BNLJ). Select-list st_pred calls over the ON
columns read pair-table columns (zero extra kernel evaluations).""",
    "tin_grid_distributed": """Zero-driver TIN pipeline. The triangulation rounds run
eagerly inside delaunay_distributed (per-cell Bowyer-Watson over a
3×3 JVM halo explode, certified triangles persisted; unresolved cells
— usually none — re-gather with doubled halo), so the plan below is
the FILL stage: the certified triangle table (InMemoryTableScan)
explodes to the pixel buckets its bbox reaches (JVM sequence
explode), ONE hash exchange on (bxi, byi), and a single
FlatMapGroupsInPandas barycentric kernel that derives its pixels from
the bucket key — the raster itself never shuffles, never ships.""",
    "perplexity_join": """Stupid-backoff perplexity, UNBOUNDED join path: tokenize +
backoff-ladder gram strings are pure codegen over ONE posexplode; the
per-order count tables enter as plain hash joins (broadcast at
fixture scale, co-partitioned SMJ past the threshold — same graceful
degradation as pansharpen); the CASE backoff fold and the log10 sum
are all JVM; one final per-doc HashAggregate. No Python anywhere.""",
    "pansharpen": """Weighted Brovey: each MS band's halo exchange shuffles only
tile PERIMETERS (strips mapInPandas -> one groupBy per band), then the
multi-way equi-join on (tx, ty) ships each pan tile its three padded
MS tiles — at fixture scale the planner BROADCASTS the smaller sides
(visible below); past the threshold the same key degrades gracefully
to co-partitioned shuffles — and ONE MapInPandas does
upsample+combine for all bands.
No pixel ever shuffles twice; no driver stage.""",
    "checksum_image": """GDALChecksumImage: per-tile partials in one mapInPandas (the
prime index is a pure function of global coords, so partials commute),
then a single partial->final HashAggregate pair — the shuffle carries
ONE LONG PER TILE regardless of raster size.""",
    "sample_mixture": """Hash-gated epoch mixture: the keep/copy decision and the
epoch explode are one codegen projection + explode(sequence) over the
scan — ZERO exchanges, repartition-proof by construction (the gate is
a pure per-row hash).""",
    "contamination_pairs": """Benchmark decontamination over hashed grams: the corpus side is
pure whole-stage codegen — per-word xxhash64 + rotate-xor window
fold + array_distinct + explode, 8 bytes per gram, no gram STRING
ever materialized — the small eval set broadcasts
(BroadcastHashJoin), and a partial HashAggregate combines map-side
before the single exchange on (doc, bench). Corpus text never
shuffles.""",
}


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def main() -> int:
    from gdal_spark import testdata
    from gdal_spark.operators.extract import extract_features
    from gdal_spark.operators.knn import knn_join_df
    from gdal_spark.operators.spatial_join import (
        spatial_join, spatial_join_count,
    )
    from gdal_spark.operators.tiling import (
        burn_points_tiles, formula_tiles, pyramid, tile_checksums,
    )
    from gdal_spark.session import get_spark

    import __spark_entry__ as entry

    spark = get_spark(app_name="explain_audit", cores=8, shuffle_partitions=8)
    polys = testdata.polygons_pdf(40)
    pts = entry._doc_points(spark, SF)

    plans: dict[str, str] = {}
    plans["spatial_join"] = _plan(spatial_join(pts, polys, res_min=2, res_max=7))
    plans["spatial_join_count"] = _plan(
        spatial_join_count(pts, polys, res_min=2, res_max=7)
    )
    plans["burn_points_tiles"] = _plan(burn_points_tiles(pts, 3, 64))
    pyr = tile_checksums(
        pyramid(formula_tiles(spark, 4, 4, 64).withColumn("z", F.lit(2)), 2, 0)
    )
    pyr.collect()
    plans["pyramid"] = _plan(pyr).split("+- == Initial Plan ==")[0]
    queries = pts.filter(F.col("doc_id") % 101 == 0).select(
        F.col("doc_id").alias("qid"),
        F.col("lon").alias("qlon"),
        F.col("lat").alias("qlat"),
    )
    # first-iteration plan (the loop itself is driver-side)
    from gdal_spark import cells as _cells

    plans["knn_join_df_round1"] = _plan(
        pts.withColumnRenamed("doc_id", "pid")
        .withColumn("cell_id", _cells.cell_expr(F.col("lon"), F.col("lat"), 5))
        .join(
            F.broadcast(
                queries.withColumn(
                    "cell_id",
                    _cells.cell_expr(F.col("qlon"), F.col("qlat"), 5),
                )
            ),
            "cell_id",
        )
    )
    plans["q1_pricing_summary"] = _plan(
        entry.QUERIES["q1_pricing_summary"].fn(spark, SF)
    )
    from gdal_spark.operators.grid import idw_grid_quantized
    from gdal_spark.operators.layer_algebra import intersection_pieces
    from gdal_spark.operators.tiling import warp_aggregate

    a_pdf = entry._la_fixture(entry._LA_NA, 101, 8, 18)
    b_pdf = entry._la_fixture(entry._LA_NB, 202, 14, 30)
    a_df = spark.createDataFrame(
        a_pdf[["poly_id", "geom_wkb"]].rename(columns={"poly_id": "a_id"})
    )
    plans["layer_intersection"] = _plan(intersection_pieces(a_df, b_pdf))
    plans["warp_aggregate"] = _plan(
        warp_aggregate(
            formula_tiles(spark, 2, 2, 64), entry._WARP_SRC_GT,
            entry._WAGG_DST_GT, entry._WAGG_N, entry._WAGG_N,
        )
    )
    plans["idw_grid_quantized"] = _plan(
        idw_grid_quantized(
            pts.withColumn("z", (F.col("doc_id") % 997).cast("long")),
            res=5, z_col="z",
        )
    )
    from gdal_spark.operators.layer_algebra import intersection_join

    b_big = spark.createDataFrame(
        b_pdf[["poly_id", "geom_wkb"]].rename(columns={"poly_id": "b_id"})
    )
    plans["intersection_join"] = _plan(intersection_join(a_df, b_big))
    from gdal_spark.operators.grid import tin_grid_distributed

    tin_pdf = entry._tin_points().copy()
    tin_pdf.insert(0, "id", range(len(tin_pdf)))
    plans["tin_grid_distributed"] = _plan(
        tin_grid_distributed(
            spark, spark.createDataFrame(tin_pdf), entry._TIN_GRID,
            entry._TIN_GRID, 0.0, 0.0, 4.0, cell_size=64.0,
        )
    )
    from gdal_spark.operators.pansharpen import pansharpen as _psh

    plans["pansharpen"] = _plan(
        _psh(
            formula_tiles(spark, 4, 4, 128),
            [formula_tiles(spark, 4, 4, 64) for _ in range(3)],
            [0.4, 0.35, 0.25], 2,
        )
    )
    from gdal_spark.operators.stats import checksum_image as _cks

    plans["checksum_image"] = _plan(
        _cks(formula_tiles(spark, 4, 3, 64), 0, 0, 256, 192, tile_size=64)
    )
    from gdal_spark.operators.sampling import weighted_mixture as _wm

    plans["sample_mixture"] = _plan(
        _wm(
            docs_early := spark.read.parquet(
                os.path.join(SF, "documents.parquet")
            ).select("doc_id", "lang"),
            {"en": 2.3, "de": 1.0}, key_col="lang", id_col="doc_id",
            seed=7, default_weight=0.25,
        )
    )
    from gdal_spark.operators import lm as _lm

    _docs_lm = spark.read.parquet(os.path.join(SF, "documents.parquet"))
    plans["perplexity_join"] = _plan(
        _lm.score_perplexity_join(
            _docs_lm.select("doc_id", "text"),
            _lm.train_ngram_lm(_docs_lm.select("doc_id", "text"), 3),
        )
    )
    pages = testdata.pages_df(spark, 1000, partitions=4)
    plans["extract_features"] = _plan(extract_features(pages))

    from gdal_spark.operators.dedup import duplicated_spans

    docs = spark.read.parquet(os.path.join(SF, "documents.parquet"))
    plans["duplicated_spans"] = _plan(
        duplicated_spans(docs, window=8, key="hash")
    )
    from gdal_spark.operators.layer_algebra import dissolve

    plans["dissolve"] = _plan(
        dissolve(
            a_df.withColumnRenamed("a_id", "key"), "key", "geom_wkb"
        )
    )
    from gdal_spark import stsql as _stsql

    b_named = b_big.withColumnRenamed("b_id", "poly_id")
    plans["spatial_join_sql"] = _plan(
        _stsql.spatial_join_sql(
            spark,
            "SELECT a.a_id AS a_id, b.poly_id AS b_id, "
            "st_intersects(a.geom_wkb, b.geom_wkb) AS st_intersects "
            "FROM sj_a a JOIN sj_b b "
            "ON st_intersects(a.geom_wkb, b.geom_wkb)",
            tables={"sj_a": a_df, "sj_b": b_named},
            id_cols={"sj_a": "a_id", "sj_b": "poly_id"},
        )
    )

    from gdal_spark.operators.dedup import contamination_pairs

    bench_docs = docs.filter(F.col("doc_id") % 211 == 0).select(
        F.col("doc_id").alias("bench_id"), "text"
    )
    plans["contamination_pairs"] = _plan(
        contamination_pairs(docs, bench_docs, n=13)
    )

    out = io.StringIO()
    out.write(
        "# PLANS — executed physical plans of the headline operators\n\n"
        "Generated by `python tools/explain_audit.py` (sf0.001 inputs; "
        "plan SHAPE is scale-independent).\nEach section: why this is "
        "the intended plan, then the plan itself.\n"
    )
    for name, plan in plans.items():
        out.write(f"\n## {name}\n\n{NOTES[name].strip()}\n\n```\n")
        out.write(plan.strip()[:4000])
        out.write("\n```\n")
    with open(os.path.join(os.path.dirname(__file__), "..", "PLANS.md"), "w") as f:
        f.write(out.getvalue())
    print("PLANS.md written")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
