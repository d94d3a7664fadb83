"""Shuffle/skew metrics emission (north-rule: "emit per-stage
shuffle/skew metrics").

``key_skew`` gives rows-per-key quantiles BEFORE a join/groupBy on
that key, emitted as JSON: it predicts hot keys (the planet-sized
polygon / dense city cell of SURVEY.md §7.3) so covers can be refined
or salts applied.

GDAL has no analog (uniform grid partitioning by construction); Spark
makes skew a first-class failure mode, so the engine measures it
rather than assuming it away.
"""

from __future__ import annotations

import json
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def key_skew(df: DataFrame, key_cols: list[str], top_n: int = 5) -> dict:
    """Rows-per-key distribution + the hottest keys (pre-join probe)."""
    per_key = df.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("n"))
    q = per_key.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.expr("percentile_approx(n, array(0.5, 0.95, 0.99))").alias("q"),
        F.max("n").alias("max"),
        F.sum("n").alias("rows"),
    ).collect()[0]
    hot = (
        per_key.orderBy(F.desc("n")).limit(top_n).collect()
    )
    return {
        "keys": int(q["n_keys"]),
        "rows": int(q["rows"]),
        "p50": int(q["q"][0]),
        "p95": int(q["q"][1]),
        "p99": int(q["q"][2]),
        "max": int(q["max"]),
        "hot_keys": [
            {**{k: r[k] for k in key_cols}, "n": int(r["n"])} for r in hot
        ],
    }


class StageTimer:
    """Wall-clock per named stage, dumped as one JSON object/file —
    the per-run metrics record the north rule asks jobs to emit."""

    def __init__(self) -> None:
        self.stages: dict[str, float] = {}
        self.extra: dict[str, object] = {}

    def __call__(self, name: str):
        timer = self

        class _Ctx:
            def __enter__(self_inner):
                self_inner.t0 = time.perf_counter()
                return self_inner

            def __exit__(self_inner, *exc):
                timer.stages[name] = round(
                    time.perf_counter() - self_inner.t0, 3
                )
                return False

        return _Ctx()

    def to_json(self, **extra) -> str:
        return json.dumps({"stages": self.stages, **self.extra, **extra})

    def dump(self, path: str, **extra) -> None:
        with open(path, "w") as f:
            f.write(self.to_json(**extra) + "\n")
