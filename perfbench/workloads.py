"""The three benchmark workloads.

Each workload makes its fixtures (``prepare``, no Spark), opens them in
a session (``open``), runs one closed-loop iteration (``iteration``)
and checks its output against the fixture's reference (``check``).
The iteration is one code path: with tracing off the spans are no-ops
and nothing is persisted; with tracing on each layer's output is
materialized where its span ends.
"""

from __future__ import annotations

import os
import shutil
from collections import Counter

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import fixtures
from gdal_spark import lineage, png, pmtiles
from gdal_spark.cells import cell_expr
from gdal_spark.operators import spatial_join as sj
from gdal_spark.operators import tiling
from gdal_spark.operators.extract import extract_features

DIGEST_COLS = ["url", "feat_id", "poly_id"]


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
    )


class _Workload:
    items = 0  # pages or tiles per iteration, for items_per_s

    def __init__(self, work: str):
        self.work = work

    def out_dir(self, kind: str) -> str:
        """Where an iteration writes; ``cleanup`` empties it."""
        return os.path.join(self.work, "out", kind)

    def cleanup(self) -> None:
        shutil.rmtree(os.path.join(self.work, "out"), ignore_errors=True)


class _Join(_Workload):
    """Shared pages → extract → spatial join front of the two join
    workloads."""

    def __init__(self, work: str, n_pages: int):
        super().__init__(work)
        self.n_pages = self.items = n_pages

    def prepare(self, seed: int) -> None:
        self.pages_dir, self.ref = fixtures.pages_fixture(
            self.work, seed, self.n_pages
        )
        self.polygons = pq.read_table(
            fixtures.polygons_fixture(self.work)
        ).to_pandas()

    def open(self, spark) -> None:
        self.spark = spark
        self.pages = spark.read.parquet(self.pages_dir)
        self._candidates = None

    def join(self, tr):
        with tr.span("extract"):
            feats = tr.materialize(
                extract_features(self.pages), "extract.rows_out"
            )
        with tr.span("spatial_join.plan"):
            joined = sj.spatial_join(
                feats, self.polygons,
                res_min=fixtures.RES_MIN, res_max=fixtures.RES_MAX,
            )
        if tr.enabled:
            self._count_candidates(tr, feats)
        return joined

    def _count_candidates(self, tr, feats) -> None:
        """Point x cover-cell pairs after the broadcast equi-join,
        recomputed from the cover and the cell expression (outside
        every span; once per process, since it is exact)."""
        if self._candidates is None:
            cover = sj.build_cover_df(
                self.spark, self.polygons, fixtures.RES_MIN, fixtures.RES_MAX
            )
            levels = sorted(
                r.res for r in cover.select("res").distinct().collect()
            )
            cells = F.array(*[cell_expr(F.col("lon"), F.col("lat"), r)
                              for r in levels])
            row = (
                feats.select(F.explode(cells).alias("cell_id"))
                .join(F.broadcast(cover), "cell_id")
                .agg(F.count(F.lit(1)).alias("n"),
                     F.sum(F.col("full").cast("long")).alias("full"))
                .collect()[0]
            )
            self._candidates = (cover.count(), row["n"], row["full"])
        cells, n, full = self._candidates
        tr.count("cover.cells", cells)
        tr.count("spatial_join.candidates", n)
        tr.count("spatial_join.full_frac", full / n)

    def _record_rows(self, tr, rows: int) -> None:
        tr.count("spatial_join.rows_out", rows)
        if self._candidates:
            tr.count("spatial_join.pip_yield", rows / self._candidates[1])


class JoinScan(_Join):
    """pages → extract → spatial join → per-polygon counts on the driver."""

    name = "join_scan"
    items_name = "pages_per_s"

    def iteration(self, tr):
        joined = self.join(tr)
        with tr.span("spatial_join.exec"):
            rows = joined.groupBy("poly_id").count().collect()
        counts = {int(r["poly_id"]): int(r["count"]) for r in rows}
        self._record_rows(tr, sum(counts.values()))
        return counts

    def check(self, counts) -> bool:
        return counts == self.ref["counts"]


class JoinCheckpoint(_Join):
    """The join, then a checkpointed write, a resume that skips every
    bucket, and a lineage audit."""

    name = "join_checkpoint"
    items_name = "pages_per_s"
    n_buckets = 16
    group_size = 4

    def _write(self, joined, out: str) -> dict:
        return lineage.checkpointed_write(
            joined, out, F.pmod(F.xxhash64("url"), F.lit(self.n_buckets)),
            self.n_buckets, digest_cols=DIGEST_COLS,
            group_size=self.group_size,
        )

    def iteration(self, tr):
        out = self.out_dir("ckpt")
        joined = self.join(tr)
        with tr.span("spatial_join.exec"):
            joined = tr.materialize(joined)
        with tr.span("lineage.write"):
            first = self._write(joined, out)
        with tr.span("lineage.resume"):
            again = self._write(joined, out)
        with tr.span("lineage.verify"):
            verified = lineage.verify_output(out, DIGEST_COLS, self.spark)
        rows = sum(m["rows"] for m in first["manifest"].values())
        self._record_rows(tr, rows)
        tr.count("lineage.buckets_skipped", len(again["skipped"]))
        if tr.enabled:
            written = _dir_bytes(os.path.join(out, "data"))
            tr.count("lineage.bytes_written", written)
            tr.count("lineage.bytes_per_row", written / rows)
        return first, again, verified, rows

    def check(self, result) -> bool:
        first, again, verified, rows = result
        every = list(range(self.n_buckets))
        return (
            rows == self.ref["rows"]
            and sorted(first["written"]) == every
            and again["written"] == [] and again["skipped"] == every
            and again["manifest"] == first["manifest"]
            and sorted(verified) == every and all(verified.values())
        )


def encode_png(tiles):
    """Tiles with raw uint8 pixels → the same tiles with PNG payloads."""

    def run(batches):
        for pdf in batches:
            data = [
                png.png_encode(np.frombuffer(d, np.uint8).reshape(int(h), int(w)))
                for w, h, d in zip(pdf["w"], pdf["h"], pdf["data"])
            ]
            yield pdf.assign(data=pd.Series(data, index=pdf.index, dtype=object))

    return tiles.mapInPandas(run, tiles.schema)


class TilePyramid(_Workload):
    """points → burn → average pyramid → checksums, PNG → PMTiles sink."""

    name = "tile_pyramid"
    items_name = "tiles_per_s"
    tile_size = 256

    def __init__(self, work: str, n_pages: int, zoom: int):
        super().__init__(work)
        self.n_pages = n_pages
        self.zoom = zoom

    def prepare(self, seed: int) -> None:
        self.points_dir, self.ref = fixtures.points_fixture(
            self.work, seed, self.n_pages, self.zoom, self.tile_size
        )
        self.items = self.ref["tiles"]

    def open(self, spark) -> None:
        self.points = spark.read.parquet(self.points_dir)

    def iteration(self, tr):
        out = self.out_dir("pmtiles")
        with tr.span("tiling.burn"):
            base = tr.materialize(
                tiling.burn_points_tiles(self.points, self.zoom, self.tile_size),
                "tiling.base_tiles",
            )
        with tr.span("tiling.pyramid"):
            pyr = tr.materialize(
                tiling.pyramid(base, self.zoom, 0, "average"),
                "tiling.tiles_total",
            )
        with tr.span("tiling.checksum"):
            cks = tiling.tile_checksums(pyr).collect()
        with tr.span("png.encode"):
            pngs = tr.materialize(encode_png(pyr))
        with tr.span("pmtiles.sink"):
            parts = pmtiles.write_pmtiles_dir(
                pngs, out, fmt="png", group_col="z"
            ).collect()
        if tr.enabled:
            tr.count("png.bytes_out", pngs.agg(
                F.sum(F.length("data"))).collect()[0][0])
            tr.count("pmtiles.bytes_written", _dir_bytes(out))
        return cks, parts

    def check(self, result) -> bool:
        cks, parts = result
        got = Counter((r["z"], r["tx"], r["ty"], r["cks"]) for r in cks)
        return (
            got == self.ref["checksums"]
            and len(parts) == self.zoom + 1
            and sum(p["n_tiles"] for p in parts) == self.ref["tiles"]
            and all(os.path.getsize(p["path"]) > 0 for p in parts)
        )
