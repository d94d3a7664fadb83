"""Benchmark harness (driver contract).

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
``/root/testdata/sf0.1``) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE
JSON line::

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Headline set = the ``bench=True`` rows of ``__spark_entry__.QUERIES``
in table order: the north-rule operators (spatial join / PIP, kNN, tile
assignment) plus the raster, relational and dedup/similarity
workhorses, so the number tracks the full engine, not one hot path.

Each query is forced with a count() (no driver-side collect of payloads);
timings are wall-clock per query, value = total.
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    try:
        sf_val = float(sf)
    except ValueError:
        sf_val = sf

    import __spark_entry__ as entry_mod
    from gdal_spark.session import get_spark

    spark = get_spark(app_name="bench")
    qs = entry_mod.bench_queries()

    timings: dict[str, float] = {}
    # warm the JVM + parquet footers once so q1 isn't charged for startup
    entry_mod._t(spark, sf_dir, "lineitem").count()

    for name, fn in qs.items():
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        n = df.count()
        dt = time.perf_counter() - t0
        timings[name] = round(dt, 3)
        print(f"# {name}: {dt:.3f}s rows={n}", file=sys.stderr)
        # queries are independent jobs: drop any blocks an operator
        # persisted/checkpointed so query k+1 isn't taxed by query k's
        # leftover executor memory (GC pressure grows the tail of a
        # 46-query session by multiples otherwise)
        spark.catalog.clearCache()
        # drop py4j refs so Spark's ContextCleaner can also reap
        # localCheckpoint RDD blocks (clearCache only sees SQL cache)
        gc.collect()

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline_suite_total",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf_val,
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
