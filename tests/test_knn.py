"""kNN ring-expansion vs exhaustive numpy oracle (FIXTURES.md F6)."""

import numpy as np
import pandas as pd

from gdal_spark import testdata
from gdal_spark.operators.knn import knn_join_df


def exhaustive_knn(pts: pd.DataFrame, queries: pd.DataFrame, k: int) -> set:
    want = set()
    px = pts["lon"].to_numpy()
    py = pts["lat"].to_numpy()
    pid = pts["pid"].to_numpy()
    for qid, qlon, qlat in queries[["qid", "qlon", "qlat"]].itertuples(index=False):
        d2 = (px - qlon) ** 2 + (py - qlat) ** 2
        order = np.lexsort((pid, d2))[:k]
        for rank, j in enumerate(order, start=1):
            want.add((int(qid), rank, int(pid[j])))
    return want


def test_knn_matches_exhaustive(spark):
    pts_pdf = testdata.grid_points_pdf(4000)
    points = spark.createDataFrame(pts_pdf)
    rng = np.random.default_rng(21)
    nq = 40
    queries = pd.DataFrame(
        {
            "qid": np.arange(nq, dtype=np.int64),
            "qlon": rng.uniform(-180, 180, nq),
            "qlat": rng.uniform(-90, 90, nq),
        }
    )
    # include queries inside the dense cluster (skew case)
    queries.loc[:4, "qlon"] = 13.405 + rng.uniform(0, 0.005, 5)
    queries.loc[:4, "qlat"] = 52.525 + rng.uniform(0, 0.005, 5)

    qdf = spark.createDataFrame(queries)
    for k in (1, 4, 8):
        got = {
            (int(r.qid), int(r.rank), int(r.pid))
            for r in knn_join_df(points, qdf, k=k, res=6).collect()
        }
        want = exhaustive_knn(pts_pdf, queries, k)
        assert got == want, f"k={k} mismatch"


def test_knn_k_larger_than_candidates(spark):
    pts_pdf = testdata.grid_points_pdf(50)
    points = spark.createDataFrame(pts_pdf)
    queries = spark.createDataFrame(
        pd.DataFrame({"qid": [0], "qlon": [0.0], "qlat": [0.0]})
    )
    got = knn_join_df(points, queries, k=60, res=4).collect()
    assert len(got) == 50  # all points returned when k > n


def test_knn_join_df_matches_brute_force(spark):
    """Distributed kNN (both sides DataFrames) equals brute force."""
    import pandas as pd
    from pyspark.sql import functions as F

    from gdal_spark.testdata import grid_points_pdf

    pts_pdf = grid_points_pdf(3000)
    pts = spark.createDataFrame(pts_pdf)
    q_pdf = pts_pdf.iloc[::101][["pid", "lon", "lat"]].rename(
        columns={"pid": "qid", "lon": "qlon", "lat": "qlat"}
    )
    queries = spark.createDataFrame(q_pdf)
    got = sorted(
        (int(r["qid"]), int(r["rank"]), int(r["pid"]))
        for r in knn_join_df(pts, queries, k=3, res=5).collect()
    )

    import numpy as np

    want = []
    P = pts_pdf[["pid", "lon", "lat"]].to_numpy()
    for _, q in q_pdf.iterrows():
        d2 = (P[:, 1] - q["qlon"]) ** 2 + (P[:, 2] - q["qlat"]) ** 2
        order = np.lexsort((P[:, 0], d2))[:3]
        for rnk, i in enumerate(order, 1):
            want.append((int(q["qid"]), rnk, int(P[i, 0])))
    assert got == sorted(want)


def test_knn_join_df_partitioning_invariant(spark):
    from gdal_spark.testdata import grid_points_pdf

    pts_pdf = grid_points_pdf(1500)
    q_pdf = pts_pdf.iloc[::211][["pid", "lon", "lat"]].rename(
        columns={"pid": "qid", "lon": "qlon", "lat": "qlat"}
    )
    a = sorted(
        map(
            tuple,
            knn_join_df(
                spark.createDataFrame(pts_pdf).repartition(3),
                spark.createDataFrame(q_pdf),
                k=2, res=4,
            ).collect(),
        )
    )
    b = sorted(
        map(
            tuple,
            knn_join_df(
                spark.createDataFrame(pts_pdf).repartition(13),
                spark.createDataFrame(q_pdf).repartition(5),
                k=2, res=4,
            ).collect(),
        )
    )
    assert a == b
