"""Static lints promised by SURVEY.md §7.3: the engine must never use
per-row Python on the hot path — Arrow-batched pandas UDFs only — and
never drop to RDDs. Also: no asserts, no near-duplicate functions, and
no engine code that only tests reach."""

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
    """No RDD paths (the DataFrame API is the engine contract). Not
    even `.rdd.getNumPartitions()`: under AQE it runs every shuffle
    stage of the plan to size the partitions, and the action that
    follows runs them again."""
    offenders = []
    for p in _sources():
        for i, line in enumerate(p.read_text().splitlines(), 1):
            if re.search(r"\.rdd\b", line) and "sparkContext" not in line:
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


# ---------------------------------------------------------------------------
# unreached code
# ---------------------------------------------------------------------------

REPO = SRC.parent
# what the program runs: the gates and bench rows of the query table,
# the tools and the repo benchmark
ROOTS = [
    ENTRY, REPO / "bench.py",
    *sorted((REPO / "tools").glob("*.py")),
    *sorted((REPO / "perfbench").glob("*.py")),
]
# units kept although nothing reached calls them, each an extra root:
# (b) a test's independent reference or decoder for reached code,
# (c) a test seam or fixture helper, (d) named in BASELINE.json's
# north star
UNREACHED_ALLOW = {
    "cells.encode": "(b) numpy reference for cells.cell_expr / cell_sql",
    "cells.compact": "(d) north star: compact/uncompact cell covers",
    "cells.uncompact": "(d) north star: compact/uncompact cell covers",
    "cells.k_ring": "(d) north star: ring-expansion search",
    "cover.classify_rect": "(c) one-rectangle seam into the classifier "
                           "of cover.cover_polygons_pdf",
    "cover.cover_polygon": "(c) one-polygon seam into the refinement of "
                           "cover.cover_polygons_pdf",
    "curves.compoundcurve": "(c) builds curve inputs for curves.linearize",
    "curves.multicurve": "(c) builds curve inputs for curves.linearize",
    "curves.multisurface": "(c) builds curve inputs for curves.linearize",
    "fgb.fgb_decode": "(b) decoder checking the FlatGeobuf writer",
    "gcp.apply_poly": "(b) numpy reference for gcp.transform_columns",
    "geometry.winding_number": "(b) reference for "
                               "geometry.points_in_polygon",
    "gpkg.read_gpkg": "(b) decoder checking the GeoPackage writer",
    "gpkg.gpkg_tables": "(b) decoder checking the GeoPackage writer",
    "gtiff.read_gtiff": "(b) decoder checking the GeoTIFF writer",
    "gtiff.tiff_decode": "(b) decoder checking the GeoTIFF / COG writer",
    "gtiff.tiff_n_ifds": "(b) decoder checking the COG writer's levels",
    "io.PrefixOpener": "(c) opener seam proving ranged readers use it",
    "jpeg.jpeg_decode": "(b) decoder checking jpeg.jpeg_encode",
    "mbtiles.mbtiles_metadata": "(b) decoder checking the MBTiles writer",
    "mbtiles.read_mbtiles": "(b) decoder checking the MBTiles writer",
    "mercator.lat_lon_to_meters": "(b) numpy reference for "
                                  "tiling.burn_points_tiles",
    "mercator.meters_to_pixels": "(b) numpy reference for "
                                 "tiling.burn_points_tiles",
    "operators.bpe.decode_tokens": "(b) decoder checking the BPE encoder",
    "operators.grid.tin_grid": "(b) in-memory reference that "
                               "grid.tin_grid_distributed is pinned to",
    "operators.lm.score_perplexity": "(b) broadcast-kernel reference for "
                                     "lm.score_perplexity_join",
    "operators.skew.salted_count_distinct": "(d) north star: two-level "
                                            "salting",
    "operators.skew.salted_dim_join": "(d) north star: two-level salting",
    "pmtiles.pmtiles_decode": "(b) decoder checking the PMTiles writer",
    "pmtiles.read_pmtiles": "(b) decoder checking the PMTiles writer",
    "png.png_decode": "(b) decoder checking png.png_encode",
    "raster.burn_points": "(b) numpy reference for "
                          "tiling.burn_points_tiles",
    "testdata.grid_points_pdf": "(c) point fixture for knn.knn_join_df",
    "testdata.pages_pdf": "(c) page fixture for extract_features and "
                          "spatial_join",
}

# units that only tests reach and that are still to be retired with
# their tests, a few modules per change (ROADMAP direction 2); extra
# roots like UNREACHED_ALLOW. This list only shrinks: new code is
# reached, or kept with a reason above. PENDING_MAX pins its length;
# each change that retires entries lowers it to the new length.
PENDING_MAX = 31
UNREACHED_PENDING = (
    "cells.morton_key",
    "cells.ring_only",
    "gcp.GCPPolyTransform",
    "geodesy.authalic_cd_area",
    "geojson.read_geojson",
    "geojson.read_geojson_seq",
    "geojson.read_geojson_seq_stream",
    "geojson.write_geojson_seq",
    "geoparquet.read_geoparquet",
    "geoparquet.write_geoparquet",
    "jpeg.write_tiles_jpeg",
    "mercator.meters_to_tile",
    "mercator.quadkey",
    "mercator.tile_expr",
    "operators.reproject.reproject_geometries",
    "operators.sampling.sample_by_rate",
    "operators.sampling.weighted_sample",
    "operators.stats.band_statistics",
    "operators.text.fingerprint",
    "operators.tiling.footprint",
    "operators.web.registrable_domain",
    "pixfn.builtin",
    "pixfn.compile_column",
    "pixfn.variables",
    "png.write_tiles_png",
    "proj.LCCInverseTransform",
    "proj.ObliqueStereographic",
    "proj.aeqd_forward_transform",
    "proj.sinusoidal_inverse_transform",
    "shapefile.read_shapefile_ranged",
    "shapefile.write_shapefile_dir",
)


_UNIT = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


class _Module:
    """One source file: its top-level units (functions and classes),
    its other top-level statements, and every import in it as
    ``alias -> {("mod", module) | ("from", module, name)}``."""

    def __init__(self, name: str, path: pathlib.Path, is_package=False):
        self.name = name
        self.tree = ast.parse(path.read_text())
        self.units = {n.name: n for n in self.tree.body
                      if isinstance(n, _UNIT)}
        self.top = [n for n in self.tree.body if not isinstance(n, _UNIT)]
        package = name if is_package else name.rpartition(".")[0]
        self.imports: dict = {}
        for node in ast.walk(self.tree):
            if isinstance(node, ast.Import):
                for a in node.names:
                    alias = a.asname or a.name.split(".")[0]
                    self.imports.setdefault(alias, set()).add(
                        ("mod", a.name if a.asname else alias)
                    )
            elif isinstance(node, ast.ImportFrom):
                base = node.module or ""
                if node.level:
                    up = package.split(".")[:package.count(".") + 2
                                            - node.level]
                    base = ".".join(up + ([base] if base else []))
                for a in node.names:
                    self.imports.setdefault(a.asname or a.name, set()).add(
                        ("from", base, a.name)
                    )


def _package() -> dict:
    mods = {}
    for p in sorted(SRC.rglob("*.py")):
        parts = p.relative_to(REPO).with_suffix("").parts
        is_package = parts[-1] == "__init__"
        name = ".".join(parts[:-1] if is_package else parts)
        mods[name] = _Module(name, p, is_package)
    return mods


def _reached(mods: dict, roots: list, extra=()) -> set:
    """(module, unit) pairs reached from the whole of each root file and
    from the units in ``extra``. Each reached unit, and the top-level
    code of each module it loads, is followed through names, module
    attributes, imports and identifier string constants, each resolved
    to the module that defines it, so same-named units of different
    modules stay apart."""
    seen_units, seen_mods = set(), set()
    work = [(r, r.tree.body) for r in roots]

    def load(m):
        if m in mods and m not in seen_mods:
            seen_mods.add(m)
            load(m.rpartition(".")[0])
            work.append((mods[m], mods[m].top))

    def reach(m, n):
        if (m, n) not in seen_units:
            seen_units.add((m, n))
            load(m)
            work.append((mods[m], [mods[m].units[n]]))

    def resolve(m, n, depth=0):
        """What attribute ``n`` of module ``m`` names."""
        if f"{m}.{n}" in mods:
            yield "mod", f"{m}.{n}"
        elif m in mods and depth < 8:
            if n in mods[m].units:
                yield "unit", m, n
            for imp in mods[m].imports.get(n, ()):
                yield from target(imp, depth + 1)

    def target(imp, depth=0):
        if imp[0] == "mod":
            yield imp
        else:
            yield from resolve(imp[1], imp[2], depth)

    def mark(t):
        if t[0] == "mod":
            load(t[1])
        else:
            reach(t[1], t[2])

    def modules_of(mod, node) -> set:
        """The modules a name or attribute chain denotes."""
        if isinstance(node, ast.Name):
            return {t[1] for imp in mod.imports.get(node.id, ())
                    for t in target(imp) if t[0] == "mod"}
        if isinstance(node, ast.Attribute):
            return {t[1] for m in modules_of(mod, node.value)
                    for t in resolve(m, node.attr) if t[0] == "mod"}
        return set()

    for m, n in extra:
        reach(m, n)
    while work:
        mod, nodes = work.pop()
        own = mod.name in mods
        for node in (n for root in nodes for n in ast.walk(root)):
            if isinstance(node, ast.Name):
                if own and node.id in mod.units:
                    reach(mod.name, node.id)
                for imp in mod.imports.get(node.id, ()):
                    for t in target(imp):
                        mark(t)
            elif isinstance(node, ast.Attribute):
                for m in modules_of(mod, node.value):
                    for t in resolve(m, node.attr):
                        mark(t)
            elif isinstance(node, ast.Import):
                for a in node.names:
                    load(a.name)
            elif isinstance(node, ast.ImportFrom):
                # importing runs the module; only a use reaches a unit
                for a in node.names:
                    for imp in mod.imports.get(a.asname or a.name, ()):
                        if imp[0] == "from":
                            load(imp[1])
                            load(f"{imp[1]}.{imp[2]}")
            elif (isinstance(node, ast.Constant)
                  and isinstance(node.value, str)):
                m, _, n = node.value.rpartition(".")
                if own and node.value in mod.units:
                    reach(mod.name, node.value)
                elif node.value in mods:
                    load(node.value)
                elif m in mods:
                    for t in resolve(m, n):
                        mark(t)
    return seen_units


def test_no_unreached_code():
    """Every top-level function and class of gdal_spark/ is reached
    from what the program runs (ROOTS) or kept by UNREACHED_ALLOW or
    UNREACHED_PENDING.
    An allowlist entry must name a unit that exists and that neither
    the roots nor another entry reach."""
    mods = _package()
    units = {
        f"{m.removeprefix('gdal_spark.')}.{n}": (m, n)
        for m, mod in mods.items() for n in mod.units
    }
    assert len(UNREACHED_PENDING) <= PENDING_MAX, (
        f"UNREACHED_PENDING grew past {PENDING_MAX}: it only shrinks"
    )
    listed = [*UNREACHED_ALLOW, *UNREACHED_PENDING]
    assert len(set(listed)) == len(listed), "a unit listed twice"
    gone = sorted(set(listed) - set(units))
    assert not gone, f"allowlisted units that are gone: {gone}"
    kept = {k: units[k] for k in listed}
    from_roots = _reached(mods, [_Module(p.stem, p) for p in ROOTS])
    # reachability from a set of sources is the union over its members
    from_entry = {k: _reached(mods, [], [u]) for k, u in kept.items()}
    reached = from_roots.union(*from_entry.values())
    unreached = sorted(k for k, u in units.items() if u not in reached)
    assert not unreached, f"units that only tests reach: {unreached}"
    # a pending unit may be all that reaches a kept one: the kept one
    # stays listed, ready for the day the pending one is retired
    redundant = sorted(
        k for k, u in kept.items()
        if u in from_roots
        or any(u in r for j, r in from_entry.items()
               if j != k and (k in UNREACHED_PENDING
                              or j not in UNREACHED_PENDING))
    )
    assert not redundant, f"allowlisted units reached anyway: {redundant}"
