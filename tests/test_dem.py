"""gdaldem focal metrics (TPI / TRI / roughness): the distributed
result must equal the same kernel applied to the assembled raster."""

import numpy as np
import pandas as pd
import pytest

from gdal_spark.operators import dem


def _tiles_from(spark, full, ts):
    h, w = full.shape
    rows = [
        (0, tx, ty, ts, ts,
         full[ty * ts:(ty + 1) * ts, tx * ts:(tx + 1) * ts]
         .astype(np.uint8).tobytes())
        for ty in range(h // ts) for tx in range(w // ts)
    ]
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["z", "tx", "ty", "w", "h", "data"])
    )


@pytest.fixture(scope="module")
def ramp():
    n = 32
    yy, xx = np.meshgrid(np.arange(n), np.arange(n), indexing="ij")
    # smooth deterministic surface
    return ((xx * 3 + yy * 2 + (xx * yy) // 8) % 200).astype(np.uint8)


def _focal_full(full, mode):
    padded = np.zeros((full.shape[0] + 2, full.shape[1] + 2), dtype=np.uint8)
    padded[1:-1, 1:-1] = full
    return dem._focal_metric(padded, mode)


@pytest.mark.parametrize(
    "mode", ["tpi8", "tri_wilson8", "tri_riley", "roughness"]
)
def test_focal_metric_matches_single_array(spark, ramp, mode):
    n, ts = 32, 16
    dt = np.float32 if mode == "tri_riley" else np.int32
    rows = dem.dem_focal(_tiles_from(spark, ramp, ts), mode).collect()
    got = np.zeros((n, n), dtype=dt)
    for r in rows:
        arr = np.frombuffer(r["data"], dtype=dt).reshape(ts, ts)
        got[r["ty"] * ts:(r["ty"] + 1) * ts,
            r["tx"] * ts:(r["tx"] + 1) * ts] = arr
    want = _focal_full(ramp, mode).astype(dt)
    # interior only: grid-edge pixels see the zero halo fill
    assert np.array_equal(got[1:-1, 1:-1], want[1:-1, 1:-1])


def test_focal_metric_values_handchecked(spark):
    # 3x3 raster: center sees the full window
    a = np.array([[1, 2, 3], [4, 10, 6], [7, 8, 9]], dtype=np.uint8)
    padded = np.zeros((5, 5), dtype=np.uint8)
    padded[1:-1, 1:-1] = a
    assert dem._focal_metric(padded, "tpi8")[1, 1] == 8 * 10 - (
        1 + 2 + 3 + 4 + 6 + 7 + 8 + 9
    )
    assert dem._focal_metric(padded, "tri_wilson8")[1, 1] == (
        9 + 8 + 7 + 6 + 4 + 3 + 2 + 1
    )
    assert dem._focal_metric(padded, "roughness")[1, 1] == 10 - 1
    assert dem._focal_metric(padded, "tri_riley")[1, 1] == np.sqrt(
        81 + 64 + 49 + 36 + 16 + 9 + 4 + 1
    )
