"""Deterministic synthetic fixtures (seed=42, no external data).

Implements FIXTURES.md: the `pages` table mandated by
BASELINE.json.input_hint (url, warc_ts, html, text, lang) where `text`
is a pure function of `url` (the byte-identity invariant), plus the
`polygons` method layer, `grid_points` kNN fixture and raster fixtures.

Generation is pure numpy + pandas on the driver for unit scales and a
distributed `spark.range`-based generator for bench scales — the same
row i produces byte-identical content either way.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from . import wkb

SEED = 42
EPOCH = np.datetime64("2025-01-01T00:00:00")


# ---------------------------------------------------------------------------
# pages — Common-Crawl-style (FIXTURES.md F1)
# ---------------------------------------------------------------------------

def _mix64(i: np.ndarray, salt: int) -> np.ndarray:
    """Deterministic splitmix64-style mixer (uint64 lanes)."""
    x = (np.asarray(i, dtype=np.uint64) + np.uint64(salt)) * np.uint64(
        0x9E3779B97F4A7C15
    )
    x ^= x >> np.uint64(30)
    x *= np.uint64(0xBF58476D1CE4E5B9)
    x ^= x >> np.uint64(27)
    x *= np.uint64(0x94D049BB133111EB)
    x ^= x >> np.uint64(31)
    return x


def _unit(i: np.ndarray, salt: int) -> np.ndarray:
    """Deterministic uniform [0, 1) per row id."""
    return (_mix64(i, salt) >> np.uint64(11)).astype(np.float64) / float(1 << 53)


def page_fields(i: np.ndarray, columns: list[str] | None = None) -> pd.DataFrame:
    """Row i → (url, warc_ts, html, text, lang). Pure function of i.

    text embeds 1-3 geocodable "near (lon,lat)" mentions; 2% of rows
    draw from a dense 0.1°x0.1° "city" box (the skew knob).

    ``columns`` restricts generation to a subset — the synthetic
    stand-in for Parquet/Iceberg column pruning (a real pages scan
    never materializes ``html`` when the query only needs url+text;
    generating it anyway would charge the benchmark for bytes Catalyst
    provably never reads)."""
    i = np.asarray(i, dtype=np.int64)
    urls = np.char.add(
        np.char.add("https://site", (i % 997).astype(str)),
        np.char.add(".example/", i.astype(str)),
    )
    langs = np.array(["en", "de", "fr", "es"])[i % 4]
    n_mentions = 1 + (_mix64(i, 1) % np.uint64(3)).astype(np.int64)  # 1..3
    is_city = _unit(i, 2) < 0.02

    # fully vectorized text assembly (same bytes as the per-row loop:
    # "%.6f" formatting is identical to f"{x:.6f}")
    texts = np.char.add(
        np.char.add("Page ", i.astype(str)), " report."
    ).astype(object)
    for m in range(3):
        u_lon = _unit(i, 100 + 7 * m)
        u_lat = _unit(i, 200 + 7 * m)
        city_m = is_city & (m == 0)
        lon = np.where(city_m, 13.30 + u_lon * 0.1, -180.0 + u_lon * 360.0)
        lat = np.where(city_m, 52.45 + u_lat * 0.1, -90.0 + u_lat * 180.0)
        mention = np.char.add(
            np.char.add(
                np.char.add(
                    " Observed near (", np.char.mod("%.6f", lon)
                ),
                np.char.add(",", np.char.mod("%.6f", lat)),
            ),
            ") on site.",
        )
        texts = np.where(m < n_mentions, texts + mention.astype(object), texts)
    suffix = np.char.add(
        np.char.add(" Mentions region", (i % 37).astype(str)), "."
    )
    texts = np.where(i % 20 == 0, texts + suffix.astype(object), texts)
    texts = texts.astype(str).tolist()

    out: dict = {"url": urls}
    want = columns or ["url", "warc_ts", "html", "text", "lang"]
    if "warc_ts" in want:
        out["warc_ts"] = EPOCH + i.astype("timedelta64[s]")
    if "html" in want:
        html_str = np.char.add(
            np.char.add(
                "<html><body>", np.asarray(texts, dtype=object).astype(str)
            ),
            "</body></html>",
        )
        out["html"] = [s.encode() for s in html_str.tolist()]
    if "text" in want:
        out["text"] = texts
    if "lang" in want:
        out["lang"] = langs
    return pd.DataFrame(out)[[c for c in
                              ["url", "warc_ts", "html", "text", "lang"]
                              if c in want or c == "url"]]


def pages_pdf(n: int) -> pd.DataFrame:
    return page_fields(np.arange(n, dtype=np.int64))


def pages_df(spark, n: int, partitions: int | None = None,
             columns: list[str] | None = None):
    """Distributed generator: spark.range → mapInPandas(page_fields).
    Byte-identical to pages_pdf(n) for every row id. ``columns``
    emulates scan-side column pruning (see page_fields)."""
    from pyspark.sql import types as T

    all_fields = {
        "url": T.StructField("url", T.StringType()),
        "warc_ts": T.StructField("warc_ts", T.TimestampType()),
        "html": T.StructField("html", T.BinaryType()),
        "text": T.StructField("text", T.StringType()),
        "lang": T.StructField("lang", T.StringType()),
    }
    want = ["url"] + [
        c for c in ["warc_ts", "html", "text", "lang"]
        if columns is None or c in columns
    ]
    schema = T.StructType([all_fields[c] for c in want])

    def gen(batches):
        for b in batches:
            yield page_fields(b["id"].to_numpy(), columns=want)

    rng = spark.range(0, n, 1, partitions or max(8, n // 50_000))
    return rng.mapInPandas(gen, schema=schema)


# ---------------------------------------------------------------------------
# polygons — admin-boundary-like method layer (FIXTURES.md F3)
# ---------------------------------------------------------------------------

def _blob_ring(cx: float, cy: float, r: float, k: int, seed: int) -> np.ndarray:
    """Seeded star-convex 'blob' polygon around (cx, cy)."""
    rng = np.random.default_rng(seed)
    ang = np.sort(rng.uniform(0, 2 * np.pi, k))
    rad = r * rng.uniform(0.55, 1.0, k)
    ring = np.column_stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)])
    return np.vstack([ring, ring[:1]])


def polygons_pdf(n_poly: int = 100) -> pd.DataFrame:
    """Seeded polygon set: blobs + 1 holed + 2 overlapping + 1 sliver +
    1 giant (~30% of extent) + 2 sharing an exact edge."""
    rows = []

    def add(pid: int, rings: list[np.ndarray]) -> None:
        outer = rings[0]
        rows.append(
            {
                "poly_id": pid,
                "name": f"region{pid}",
                "geom_wkb": wkb.polygon(rings),
                "bbox_minx": float(outer[:, 0].min()),
                "bbox_miny": float(outer[:, 1].min()),
                "bbox_maxx": float(outer[:, 0].max()),
                "bbox_maxy": float(outer[:, 1].max()),
            }
        )

    rng = np.random.default_rng(SEED)
    pid = 0
    # the giant (~30% of the world extent) — forces mixed-res covers
    giant = np.array(
        [[-60, -40], [60, -40], [60, 40], [-60, 40], [-60, -40]], dtype=float
    )
    add(pid, [giant]); pid += 1
    # holed polygon over the city box
    outer = _blob_ring(13.35, 52.50, 2.0, 12, 7)
    hole = _blob_ring(13.35, 52.50, 0.4, 8, 8)[::-1].copy()
    add(pid, [outer, hole]); pid += 1
    # two overlapping
    add(pid, [_blob_ring(100.0, 10.0, 5.0, 10, 9)]); pid += 1
    add(pid, [_blob_ring(102.0, 11.0, 5.0, 10, 10)]); pid += 1
    # degenerate sliver
    sliver = np.array(
        [[-100, 0], [-80, 0.001], [-80, 0.002], [-100, 0.0005], [-100, 0]],
        dtype=float,
    )
    add(pid, [sliver]); pid += 1
    # exact shared edge pair
    a = np.array([[30, -30], [40, -30], [40, -20], [30, -20], [30, -30]], float)
    b = np.array([[40, -30], [50, -30], [50, -20], [40, -20], [40, -30]], float)
    add(pid, [a]); pid += 1
    add(pid, [b]); pid += 1
    # remaining seeded blobs
    while pid < n_poly:
        cx = float(rng.uniform(-170, 170))
        cy = float(rng.uniform(-80, 80))
        r = float(rng.uniform(0.5, 6.0))
        k = int(rng.integers(5, 14))
        add(pid, [_blob_ring(cx, cy, r, k, 1000 + pid)])
        pid += 1
    return pd.DataFrame(rows)


# ---------------------------------------------------------------------------
# grid_points — kNN fixture (FIXTURES.md F6)
# ---------------------------------------------------------------------------

def grid_points_pdf(n: int = 10_000) -> pd.DataFrame:
    i = np.arange(n, dtype=np.int64)
    dense = _unit(i, 31) < 0.10
    lon = np.where(
        dense, 13.40 + _unit(i, 32) * 0.01, -180.0 + _unit(i, 33) * 360.0
    )
    lat = np.where(
        dense, 52.52 + _unit(i, 34) * 0.01, -90.0 + _unit(i, 35) * 180.0
    )
    return pd.DataFrame(
        {"pid": i, "lon": lon, "lat": lat, "z": np.sin(lon) * np.cos(lat)}
    )
