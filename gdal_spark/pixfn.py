"""VRT derived-band pixel functions: a muparser-style expression
surface + the reference's built-in pixel-function registry.

Reference analog: VRT derived bands (frmts/vrt/vrtderivedrasterband.cpp)
evaluate either a named pixel function from the registered set
(frmts/vrt/pixelfunctions.cpp:3852 GDALRegisterDefaultPixelFunc — sum,
diff, mul, div, min, max, norm_diff, inv, sqrt, log10, dB, exp, pow,
scale, mean, …) or a free-form muparser arithmetic expression
(pixelfunctions.cpp:2757 ExprPixelFunc, "expression" with
``expression=...`` args). muparser is an external library; this module
is a from-scratch recursive-descent compiler for the same public
grammar (numbers, band variables, + - * / % ^, unary -, comparisons
returning 0/1, function calls, parentheses).

One parse, three backends — all evaluating the same tree:

* ``compile_numpy``  → vectorized ``f(bands: dict[str, ndarray])``
  for the distributed tile path (``derived_tiles``), no eval()/exec().
* ``compile_column`` → a pyspark Column tree for flat pixel tables.
* ``to_sql``         → the ANSI-SQL rendering of the identical tree,
  so a DuckDB oracle can verify the Spark result value-exactly.

Scale notes: ``derived_tiles`` is ONE groupBy on the tile key — each
task assembles the co-located band blocks and runs the compiled numpy
kernel; output stays tile-shaped (never a per-pixel explode), so a
100 TB multi-band mosaic derives at scan speed with a single shuffle
of tile-sized rows keyed by (z, tx, ty).
"""

from __future__ import annotations

import math
import re

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# tokenizer / parser → tuple AST
# ---------------------------------------------------------------------------

_TOKEN_RE = re.compile(
    r"\s*(?:(?P<num>\d+\.\d*(?:[eE][-+]?\d+)?|\.\d+(?:[eE][-+]?\d+)?"
    r"|\d+(?:[eE][-+]?\d+)?)"
    r"|(?P<name>[A-Za-z_][A-Za-z_0-9]*)"
    r"|(?P<op><=|>=|==|!=|[-+*/%^<>(),]))"
)

_FUNCS_1 = {
    "sqrt": np.sqrt, "abs": np.abs, "exp": np.exp, "log": np.log,
    "log10": np.log10, "log2": np.log2, "sin": np.sin, "cos": np.cos,
    "tan": np.tan, "asin": np.arcsin, "acos": np.arccos,
    "atan": np.arctan, "sinh": np.sinh, "cosh": np.cosh,
    "tanh": np.tanh, "floor": np.floor, "ceil": np.ceil,
    "sign": np.sign, "rint": np.rint,
}
_FUNCS_2 = {
    "atan2": np.arctan2, "pow": np.power, "fmod": np.fmod,
    "hypot": np.hypot,
}
_FUNCS_N = {"min", "max", "sum", "avg"}
_FUNCS_3 = {"clip", "if"}
_ALL_FUNCS = (
    set(_FUNCS_1) | set(_FUNCS_2) | _FUNCS_N | _FUNCS_3
)


class PixfnSyntaxError(ValueError):
    pass


def _tokens(src: str):
    pos, out = 0, []
    while pos < len(src):
        m = _TOKEN_RE.match(src, pos)
        if not m or m.end() == pos:
            if src[pos:].strip():
                raise PixfnSyntaxError(
                    f"bad token at {pos}: {src[pos:pos+10]!r}"
                )
            break
        if m.lastgroup == "num":
            out.append(("num", float(m.group("num"))))
        elif m.lastgroup == "name":
            out.append(("name", m.group("name")))
        else:
            out.append(("op", m.group("op")))
        pos = m.end()
    out.append(("end", ""))
    return out


class _Parser:
    """expr := cmp; cmp := add (relop add)?; add := mul (('+'|'-') mul)*;
    mul := unary (('*'|'/'|'%') unary)*; unary := ('-'|'+')* power;
    power := atom ('^' unary)?  (right-assoc, muparser precedence)."""

    def __init__(self, toks):
        self.toks, self.i = toks, 0

    def peek(self):
        return self.toks[self.i]

    def take(self, kind=None, val=None):
        t = self.toks[self.i]
        if kind and t[0] != kind or val is not None and t[1] != val:
            raise PixfnSyntaxError(f"expected {val or kind}, got {t}")
        self.i += 1
        return t

    def parse(self):
        node = self.cmp()
        if self.peek()[0] != "end":
            raise PixfnSyntaxError(f"trailing input: {self.peek()}")
        return node

    def cmp(self):
        left = self.add()
        k, v = self.peek()
        if k == "op" and v in ("<", "<=", ">", ">=", "==", "!="):
            self.take()
            return ("cmp", v, left, self.add())
        return left

    def add(self):
        node = self.mul()
        while self.peek() == ("op", "+") or self.peek() == ("op", "-"):
            op = self.take()[1]
            node = ("bin", op, node, self.mul())
        return node

    def mul(self):
        node = self.unary()
        while self.peek()[0] == "op" and self.peek()[1] in "*/%":
            op = self.take()[1]
            node = ("bin", op, node, self.unary())
        return node

    def unary(self):
        if self.peek() == ("op", "-"):
            self.take()
            return ("neg", self.unary())
        if self.peek() == ("op", "+"):
            self.take()
            return self.unary()
        return self.power()

    def power(self):
        base = self.atom()
        if self.peek() == ("op", "^"):
            self.take()
            return ("bin", "^", base, self.unary())
        return base

    def atom(self):
        k, v = self.peek()
        if k == "num":
            self.take()
            return ("num", v)
        if k == "name":
            self.take()
            if self.peek() == ("op", "("):
                fn = v.lower()
                if fn not in _ALL_FUNCS:
                    raise PixfnSyntaxError(f"unknown function {v!r}")
                self.take(val="(")
                args = [self.cmp()]
                while self.peek() == ("op", ","):
                    self.take()
                    args.append(self.cmp())
                self.take(val=")")
                return ("call", fn, args)
            if v.lower() == "pi":
                return ("num", math.pi)
            return ("var", v)
        if (k, v) == ("op", "("):
            self.take()
            node = self.cmp()
            self.take(val=")")
            return node
        raise PixfnSyntaxError(f"unexpected {v!r}")


def parse(expr: str):
    """Parse a pixel-function expression → tuple AST."""
    return _Parser(_tokens(expr)).parse()


def variables(ast) -> list[str]:
    """Band variables referenced by the expression, in first-use order."""
    out: list[str] = []

    def walk(n):
        if n[0] == "var" and n[1] not in out:
            out.append(n[1])
        elif n[0] in ("neg",):
            walk(n[1])
        elif n[0] == "bin" or n[0] == "cmp":
            walk(n[2]), walk(n[3])
        elif n[0] == "call":
            for a in n[2]:
                walk(a)

    walk(ast)
    return out


# ---------------------------------------------------------------------------
# backend: numpy
# ---------------------------------------------------------------------------


def _np_nary(fn, args):
    if fn == "min":
        out = args[0]
        for a in args[1:]:
            out = np.minimum(out, a)
        return out
    if fn == "max":
        out = args[0]
        for a in args[1:]:
            out = np.maximum(out, a)
        return out
    if fn == "sum":
        out = args[0]
        for a in args[1:]:
            out = out + a
        return out
    # avg
    out = args[0]
    for a in args[1:]:
        out = out + a
    return out / float(len(args))


def _eval_np(node, env):
    k = node[0]
    if k == "num":
        return node[1]
    if k == "var":
        try:
            return env[node[1]]
        except KeyError:
            raise KeyError(f"band {node[1]!r} not provided") from None
    if k == "neg":
        return -_eval_np(node[1], env)
    if k == "bin":
        a, b = _eval_np(node[2], env), _eval_np(node[3], env)
        op = node[1]
        if op == "+":
            return a + b
        if op == "-":
            return a - b
        if op == "*":
            return a * b
        if op == "/":
            return a / b
        if op == "%":
            return np.fmod(a, b)
        return np.power(a, b)  # ^
    if k == "cmp":
        a, b = _eval_np(node[2], env), _eval_np(node[3], env)
        op = node[1]
        r = (
            a < b if op == "<" else a <= b if op == "<=" else
            a > b if op == ">" else a >= b if op == ">=" else
            a == b if op == "==" else a != b
        )
        return np.asarray(r, dtype=np.float64)
    # call
    fn, args = node[1], [_eval_np(a, env) for a in node[2]]
    if fn in _FUNCS_1:
        return _FUNCS_1[fn](args[0])
    if fn in _FUNCS_2:
        return _FUNCS_2[fn](args[0], args[1])
    if fn == "clip":
        return np.clip(args[0], args[1], args[2])
    if fn == "if":
        return np.where(np.asarray(args[0], dtype=bool), args[1], args[2])
    return _np_nary(fn, args)


def compile_numpy(expr: str):
    """→ ``f(bands: dict[str, np.ndarray]) -> np.ndarray`` evaluating
    the expression vectorized (float64), no eval()/exec()."""
    ast = parse(expr)

    def run(bands: dict) -> np.ndarray:
        env = {
            k: np.asarray(v, dtype=np.float64) for k, v in bands.items()
        }
        out = _eval_np(ast, env)
        return np.asarray(out, dtype=np.float64)

    return run


# ---------------------------------------------------------------------------
# backends: pyspark Column + ANSI SQL (mirrored trees)
# ---------------------------------------------------------------------------

_SQL_FUNCS_1 = {
    "sqrt": "SQRT", "abs": "ABS", "exp": "EXP", "log": "LN",
    "log10": "LOG10", "log2": "LOG2", "sin": "SIN", "cos": "COS",
    "tan": "TAN", "asin": "ASIN", "acos": "ACOS", "atan": "ATAN",
    "floor": "FLOOR", "ceil": "CEIL", "sign": "SIGN",
}


def to_sql(expr: str, var_sql: dict[str, str] | None = None) -> str:
    """Render the expression as ANSI SQL (the oracle side).
    ``var_sql`` maps band names to SQL column expressions."""
    ast = parse(expr)

    def r(n) -> str:
        k = n[0]
        if k == "num":
            return repr(n[1])
        if k == "var":
            return (var_sql or {}).get(n[1], n[1])
        if k == "neg":
            return f"(-{r(n[1])})"
        if k == "bin":
            op = n[1]
            if op == "^":
                return f"POWER({r(n[2])}, {r(n[3])})"
            if op == "%":
                return f"FMOD({r(n[2])}, {r(n[3])})"
            return f"({r(n[2])} {op} {r(n[3])})"
        if k == "cmp":
            op = "=" if n[1] == "==" else n[1]
            return (
                f"(CASE WHEN {r(n[2])} {op} {r(n[3])} "
                f"THEN 1e0 ELSE 0e0 END)"
            )
        fn, args = n[1], [r(a) for a in n[2]]
        if fn in _SQL_FUNCS_1:
            return f"{_SQL_FUNCS_1[fn]}({args[0]})"
        if fn == "pow":
            return f"POWER({args[0]}, {args[1]})"
        if fn == "atan2":
            return f"ATAN2({args[0]}, {args[1]})"
        if fn in ("min", "max"):
            f_ = "LEAST" if fn == "min" else "GREATEST"
            return f"{f_}({', '.join(args)})"
        if fn == "sum":
            return "(" + " + ".join(args) + ")"
        if fn == "avg":
            return (
                "((" + " + ".join(args) + f") / {float(len(args))!r})"
            )
        if fn == "clip":
            return f"LEAST(GREATEST({args[0]}, {args[1]}), {args[2]})"
        if fn == "if":
            return (
                f"(CASE WHEN {args[0]} <> 0e0 THEN {args[1]} "
                f"ELSE {args[2]} END)"
            )
        raise PixfnSyntaxError(f"no SQL rendering for {fn}")

    return r(ast)


def compile_column(expr: str, resolver=None):
    """→ pyspark Column evaluating the expression over double columns;
    ``resolver(name)`` maps band names to Columns (default F.col)."""
    ast = parse(expr)
    res = resolver or (lambda name: F.col(name))

    def r(n):
        k = n[0]
        if k == "num":
            return F.lit(float(n[1]))
        if k == "var":
            return res(n[1]).cast("double")
        if k == "neg":
            return -r(n[1])
        if k == "bin":
            a, b = r(n[2]), r(n[3])
            op = n[1]
            if op == "+":
                return a + b
            if op == "-":
                return a - b
            if op == "*":
                return a * b
            if op == "/":
                return a / b
            if op == "%":
                return a % b  # Spark % = sign-of-dividend, like fmod
            return F.pow(a, b)
        if k == "cmp":
            a, b = r(n[2]), r(n[3])
            op = n[1]
            c = (
                a < b if op == "<" else a <= b if op == "<=" else
                a > b if op == ">" else a >= b if op == ">=" else
                a == b if op == "==" else a != b
            )
            return F.when(c, F.lit(1.0)).otherwise(F.lit(0.0))
        fn, args = n[1], [r(a) for a in n[2]]
        one = {
            "sqrt": F.sqrt, "abs": F.abs, "exp": F.exp, "log": F.log,
            "log10": F.log10, "log2": F.log2, "sin": F.sin,
            "cos": F.cos, "tan": F.tan, "asin": F.asin,
            "acos": F.acos, "atan": F.atan, "floor": F.floor,
            "ceil": F.ceil, "sign": F.signum,
        }
        if fn in one:
            return one[fn](args[0]).cast("double")
        if fn == "pow":
            return F.pow(args[0], args[1])
        if fn == "atan2":
            return F.atan2(args[0], args[1])
        if fn in ("min", "max"):
            f_ = F.least if fn == "min" else F.greatest
            return f_(*args)
        if fn == "sum":
            out = args[0]
            for a in args[1:]:
                out = out + a
            return out
        if fn == "avg":
            out = args[0]
            for a in args[1:]:
                out = out + a
            return out / F.lit(float(len(args)))
        if fn == "clip":
            return F.least(F.greatest(args[0], args[1]), args[2])
        if fn == "if":
            return F.when(args[0] != 0.0, args[1]).otherwise(args[2])
        raise PixfnSyntaxError(f"no Column rendering for {fn}")

    return r(ast)


# ---------------------------------------------------------------------------
# built-in pixel-function registry (pixelfunctions.cpp real-valued set)
# ---------------------------------------------------------------------------

def _builtin_expr(name: str, n_bands: int, **kw) -> str:
    bands = [f"B{i+1}" for i in range(n_bands)]
    if name in ("real", "conj"):
        return bands[0]
    if name == "sum":
        k = kw.get("k", 0.0)
        e = " + ".join(bands)
        return f"{e} + {k!r}" if k else e
    if name == "diff":
        return f"{bands[0]} - {bands[1]}"
    if name == "mul":
        return " * ".join(bands)
    if name == "div":
        return f"{bands[0]} / {bands[1]}"
    if name in ("min", "max"):
        return f"{name}({', '.join(bands)})"
    if name == "mean":
        return f"avg({', '.join(bands)})"
    if name == "norm_diff":
        return (
            f"({bands[0]} - {bands[1]}) / ({bands[0]} + {bands[1]})"
        )
    if name == "inv":
        k = kw.get("k", 1.0)
        return f"{k!r} / {bands[0]}"
    if name == "sqrt":
        return f"sqrt({bands[0]})"
    if name == "log10":
        return f"log10(abs({bands[0]}))"
    if name == "dB":
        fact = kw.get("fact", 20.0)
        return f"{fact!r} * log10(abs({bands[0]}))"
    if name == "exp":
        base, fact = kw.get("base", math.e), kw.get("fact", 1.0)
        return f"pow({base!r}, {fact!r} * {bands[0]})"
    if name == "pow":
        return f"pow({bands[0]}, {kw.get('power', 1.0)!r})"
    if name == "scale":
        off, sc = kw.get("offset", 0.0), kw.get("scale", 1.0)
        return f"{bands[0]} * {sc!r} + {off!r}"
    if name == "interpolate_linear":
        t = kw.get("t", 0.5)
        return f"{bands[0]} + ({t!r}) * ({bands[1]} - {bands[0]})"
    raise KeyError(f"unknown builtin pixel function {name!r}")


def builtin(name: str, n_bands: int = 1, **kw) -> str:
    """Expression string for a registered reference pixel function
    (pixelfunctions.cpp:3852 set, real-valued subset) over bands
    ``B1..Bn`` with its documented optional args (k, fact, base,
    power, offset, scale, t)."""
    return _builtin_expr(name, n_bands, **kw)


# ---------------------------------------------------------------------------
# distributed derived band over tile DataFrames
# ---------------------------------------------------------------------------

DERIVED_TILE_SCHEMA = "z int, tx long, ty long, w int, h int, data binary"


def derived_tiles(bands: dict, expr: str):
    """Derived band over co-registered uint8 tile DataFrames
    (TILE_SCHEMA): evaluate ``expr`` per pixel → float64 tiles
    (``data`` = float64 bytes, row-major).

    ONE shuffle: the tagged band union groups on (z, tx, ty); each
    task assembles its co-located band blocks and runs the compiled
    numpy kernel. Missing bands for a tile raise (VRT derived bands
    require all sources — vrtderivedrasterband.cpp reads every
    source buffer before calling the pixel function)."""
    fn = compile_numpy(expr)
    names = list(bands)
    tagged = None
    for name, df in bands.items():
        t = df.select(
            "z", "tx", "ty", "w", "h", "data"
        ).withColumn("__band", F.lit(name))
        tagged = t if tagged is None else tagged.unionByName(t)

    def run(key, pdf):
        z, tx, ty = key
        w = int(pdf["w"].iloc[0])
        h = int(pdf["h"].iloc[0])
        env = {}
        for _, row in pdf.iterrows():
            env[row["__band"]] = np.frombuffer(
                row["data"], dtype=np.uint8
            ).reshape(h, w)
        missing = [n for n in names if n not in env]
        if missing:
            raise ValueError(
                f"tile ({z},{tx},{ty}) missing bands {missing}"
            )
        out = fn(env)
        return pd.DataFrame(
            [(z, tx, ty, w, h, out.astype(np.float64).tobytes())],
            columns=["z", "tx", "ty", "w", "h", "data"],
        )

    return tagged.groupBy("z", "tx", "ty").applyInPandas(
        run, DERIVED_TILE_SCHEMA
    )
