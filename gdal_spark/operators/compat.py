"""OGR-SQL semantics veneer over DataFrames.

The reference's SQL dialect is tiny (SURVEY.md §2.2-2.8); this module
provides the behaviors that differ from ANSI/Spark SQL:

* first-match LEFT JOIN — OGR joins take the FIRST matching secondary
  row per primary row ("not true LEFT or RIGHT joins", doc/source/
  user/ogr_sql_dialect.rst:508-517; fetch loop ogr/ogrsf_frmts/
  generic/ogr_gensql.cpp:1497-1526). First = lowest secondary FID.
* LIKE that is case-insensitive by default (ILIKE semantics on UTF-8
  layers, ogr/swq_op_general.cpp:41 swq_test_like).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def first_match_left_join(
    primary: DataFrame,
    secondary: DataFrame,
    on: Column,
    secondary_fid: str,
    primary_fid: str,
) -> DataFrame:
    """LEFT JOIN keeping only the first (lowest secondary_fid) match
    per primary row — exactly one output row per primary row."""
    joined = primary.join(secondary, on, "left")
    w = Window.partitionBy(primary_fid).orderBy(
        F.col(secondary_fid).asc_nulls_last()
    )
    return (
        joined.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def ogr_like(col: Column, pattern: str, escape: str | None = None) -> Column:
    """OGR LIKE: case-insensitive with %/_ wildcards."""
    if escape:
        return F.ilike(col, F.lit(pattern), F.lit(escape))
    return F.ilike(col, F.lit(pattern))


def geom_area(geom_wkb: Column) -> Column:
    """OGR_GEOM_AREA special field (ogr/ogrfeaturequery.cpp:37,
    ogr/ogr_p.h:168-172): planar area of the WKB geometry — outer ring
    minus holes, summed over multipolygon parts. Vectorized pandas UDF
    over the WKB bytes."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def area(buf: pd.Series) -> pd.Series:
        from .. import geometry, wkb as wkb_mod

        out = []
        for b in buf:
            parts = wkb_mod.polygon_rings(bytes(b))
            out.append(sum(geometry.polygon_area(p) for p in parts))
        return pd.Series(out)

    return area(geom_wkb)


def hstore_get_value(col: Column, key: str) -> Column:
    """HSTORE_GET_VALUE('a=>1,b=>2', 'a') → '1'
    (OGRHStoreGetValue, ogr/swq_op_general.cpp:215-303)."""
    return F.element_at(
        F.str_to_map(col, F.lit(","), F.lit("=>")), F.lit(key)
    )
