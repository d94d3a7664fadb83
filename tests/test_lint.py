"""Static lints promised by SURVEY.md §7.3: the engine must never use
per-row Python on the hot path — Arrow-batched pandas UDFs only — and
never drop to RDDs."""

import ast
import io
import pathlib
import re
import textwrap
import tokenize

SRC = pathlib.Path(__file__).resolve().parent.parent / "gdal_spark"


def _sources():
    return list(SRC.rglob("*.py"))


def test_no_rdd_usage():
    """No RDD DATA paths (the DataFrame API is the engine contract).
    `.rdd.getNumPartitions()` is exempt: plan metadata only — the
    granule sinks pin their repartition width with it so AQE can't
    coalesce the shuffle into one task."""
    offenders = []
    for p in _sources():
        for i, line in enumerate(p.read_text().splitlines(), 1):
            if (
                re.search(r"\.rdd\b", line)
                and "sparkContext" not in line
                and ".rdd.getNumPartitions()" not in line
            ):
                offenders.append(f"{p.name}:{i}")
    assert not offenders, offenders


def test_no_row_at_a_time_udfs():
    """Only pandas_udf / mapInPandas / applyInPandas are allowed;
    `F.udf(` registers a per-row Python UDF (the 10-100x slow path)."""
    offenders = []
    for p in _sources():
        txt = p.read_text()
        for i, line in enumerate(txt.splitlines(), 1):
            if re.search(r"\bF\.udf\(|\budf\(lambda", line):
                offenders.append(f"{p.name}:{i}")
    assert not offenders, offenders


def test_iterrows_only_on_tile_cardinality():
    """`iterrows` is legal ONLY for per-tile loops (a batch holds a
    handful of tiles); per-POINT or per-PIXEL row loops must be
    vectorized. Files allowed to iterate rows are the tile/geometry
    operators whose row unit is a tile/polygon, plus driver-side
    fixture builders."""
    allowed = {
        "tiling.py",        # row = tile
        "layer_algebra.py", # row = polygon
        "multimodal.py",    # row = media blob
        "raster.py",        # kernels (no iterrows expected, guard)
        "compat.py",
        "knn.py",           # driver-side probe loop over the SMALL
                            # broadcast query set (scale path
                            # knn_join_df has no row loop)
        "dem.py",           # row = tile (focal kernels)
        "png.py",           # row = tile (encode+write per tile)
        "jpeg.py",          # row = tile (encode+write per tile)
        "grid.py",          # row = TRIANGLE in the bucket fill loop
                            # (pixels inside are vectorized numpy)
        "fillnodata.py",    # row = tile (quadrant-IDW fill per tile)
        "stats.py",         # row = tile (bincount partials per tile)
        "gtiff.py",         # row = raster BLOCK (seek+decode per
                            # block in the ranged COG scan)
        "pixfn.py",         # row = tile (band assembly per tile key)
        "pansharpen.py",    # row = pan tile (upsample+combine per tile)
        "mbtiles.py",       # row = tile (encode / sqlite insert / ranged
                            # rowid scan — one iteration per tile blob)
        "pmtiles.py",       # row = tile (archive encode per granule)
    }
    offenders = []
    for p in _sources():
        if p.name in allowed:
            continue
        for i, line in enumerate(p.read_text().splitlines(), 1):
            if "iterrows" in line or "itertuples" in line:
                offenders.append(f"{p.name}:{i}")
    assert not offenders, offenders


def test_no_assert_in_engine():
    """Engine code validates input with exceptions, never `assert`:
    `python -O` strips asserts, so the check would silently vanish."""
    offenders = [
        f"{p.name}:{node.lineno}"
        for p in _sources()
        for node in ast.walk(ast.parse(p.read_text()))
        if isinstance(node, ast.Assert)
    ]
    assert not offenders, offenders


ENTRY = SRC.parent / "__spark_entry__.py"
_SKIP_TOKENS = {
    tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
    tokenize.DEDENT, tokenize.ENDMARKER, tokenize.ENCODING,
}
# pairs that may stay twins, each with its reason
TWIN_ALLOW = {
    # the two oracle SQL texts are pinned byte-identical by the gate
    # hash; merging them would only move string pieces around
    frozenset({
        "__spark_entry__.py:_st_predicates_oracle_sql",
        "__spark_entry__.py:_sql_st_funcs_oracle_sql",
    }),
}


def _shingles(src: str, docstrings: set, first_line: int) -> set:
    """Token 6-grams of one function's source, comments and
    docstrings dropped."""
    toks = [
        t.string
        for t in tokenize.generate_tokens(io.StringIO(src).readline)
        if t.type not in _SKIP_TOKENS
        and not (t.type == tokenize.STRING
                 and t.start[0] + first_line - 1 in docstrings)
    ]
    return {tuple(toks[i:i + 6]) for i in range(len(toks) - 5)}


def _functions(path: pathlib.Path, min_lines: int = 12) -> list:
    """(qualified name, shingles) of every function of ``min_lines``
    or more; nested functions are named ``outer.inner``."""
    text = path.read_text()
    lines = text.splitlines(keepends=True)
    tree = ast.parse(text)
    docstrings = {
        node.body[0].lineno
        for node in ast.walk(tree)
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef,
                             ast.AsyncFunctionDef))
        and ast.get_docstring(node, clean=False) is not None
    }
    out = []

    def visit(node, prefix):
        for child in ast.iter_child_nodes(node):
            name = prefix
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef,
                                  ast.ClassDef)):
                name = f"{prefix}.{child.name}" if prefix else child.name
            if (isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef))
                    and child.end_lineno - child.lineno + 1 >= min_lines):
                src = textwrap.dedent(
                    "".join(lines[child.lineno - 1:child.end_lineno])
                )
                out.append((f"{path.name}:{name}",
                             _shingles(src, docstrings, child.lineno)))
            visit(child, name)

    visit(tree, "")
    return out


def test_no_near_duplicate_functions():
    """No two functions of 12+ lines share 75 % or more of their token
    6-grams (Jaccard, comments and docstrings dropped): one idea gets
    one body, with the step that differs passed in. Nested pairs and
    pairs whose sizes differ by more than 2x are not compared."""
    funcs = [f for p in [*_sources(), ENTRY] for f in _functions(p)]
    index: dict = {}
    for k, (_, grams) in enumerate(funcs):
        for g in grams:
            index.setdefault(g, []).append(k)
    shared: dict = {}
    for ks in index.values():
        for i, a in enumerate(ks):
            for b in ks[i + 1:]:
                shared[a, b] = shared.get((a, b), 0) + 1
    twins = []
    for (a, b), n in shared.items():
        (na, ga), (nb, gb) = funcs[a], funcs[b]
        if na.startswith(nb + ".") or nb.startswith(na + "."):
            continue  # one nested in the other
        if max(len(ga), len(gb)) > 2 * min(len(ga), len(gb)):
            continue
        score = n / (len(ga) + len(gb) - n)
        if score >= 0.75 and frozenset({na, nb}) not in TWIN_ALLOW:
            twins.append(f"{na} ~ {nb}: {score:.2f}")
    assert not twins, twins
