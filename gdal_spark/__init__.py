"""gdal_spark — a PySpark-native spatial-join + tiling engine.

A from-scratch reimplementation of the query and data-processing
capabilities of the reference GDAL fork (see SURVEY.md),
re-expressed Spark-first: DataFrame/Catalyst plans, cell-id equi-join
spatial filters, broadcast polygon indexes, vectorized numpy kernels
inside Arrow-batched pandas UDFs. No per-row Python on hot paths.

Layout:
  cells      — hierarchical quadtree cell ids (H3/S2 analog; GDAL quadkey
               math, gdal2tiles.py:517 / port/cpl_quad_tree.cpp patterns)
  cover      — mixed-resolution polygon cell covers for the spatial join
  geometry   — numpy PIP (ray-cast + winding), bbox, distances
               (semantics of ogr/ogrlinearring.cpp:462-532)
  wkb        — WKB encode/decode (ISO/EWKB, Z/M, curve types); curves
               holds the curve types' WKB codec and linearize
  strtree    — broadcastable STR-packed bbox tree (GPKG RTree analog)
  operators  — spatial join, kNN, tiling, gridding, layer algebra, dedup,
               similarity, text analysis, vector reprojection, OGR-SQL
               compat veneer
  raster     — tile kernels: burn, warp/resample, reduce, labels;
               mercator holds the gdal2tiles tiling math
  proj, datum, geodesy, gcp — projections, datum shifts, geodesics,
               GCP polynomial transforms
  gtiff, fgb, gpkg, pmtiles, mbtiles, png, jpeg, warc, geojson,
  geoparquet, shapefile — from-spec codecs, sources and sinks; io is
               their byte-range opener
  stsql, ogrsql, pixfn — ST_* SQL functions, the OGR SQL dialect and
               the VRT pixel-function expression compiler
  lineage    — per-partition checkpoint manifests + resume
  metrics    — key skew probe and stage timers
  session, testdata — SparkSession factory and synthetic fixtures
"""

__version__ = "0.1.0"
