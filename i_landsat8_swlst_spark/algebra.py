"""Map algebra over tile rasters — the r.mapcalc analog.

The reference's execution primitive is an expression string compiled per
pixel over input rasters ([U] i.landsat8.swlst.py builds mapcalc
expressions; SURVEY.md §3.1 step 3). This module gives the engine the same
user surface: an arbitrary arithmetic expression over named raster
columns, evaluated vectorized per tile in ONE mapInArrow hop.

The expression language is a strict, auditable subset of Python syntax
(parsed with ``ast``, no ``eval`` of raw text): numeric literals, the
input names, ``+ - * / % **``, unary ``-``, comparisons (yielding 0/1
planes), boolean ``& |`` via ``and``/``or`` on comparison planes, and a
fixed function table (``if_``, ``isnull``, ``null``, ``abs``, ``sqrt``,
``exp``, ``log``, ``log10``, ``floor``, ``ceil``, ``round``, ``min``,
``max``, ``pow``). Anything else — attributes, subscripts, calls outside
the table, names outside the inputs — raises at compile time, so a hostile
expression cannot reach the executor.

NaN is the NULL carrier exactly as in the rest of the engine (and in
r.mapcalc: null() propagates through arithmetic, comparisons on NULL
yield NULL, and ``if_`` with a NULL condition yields NULL — never the
else arm).
"""

from __future__ import annotations

import ast

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BinaryType, DoubleType, IntegerType, LongType, StringType, StructField, StructType,
)

from . import codecs
from .pipeline import _PLANE_IDS, _TILE_KEY, _finite_stats, _tile_map

def _if_(c, a, b):
    # GRASS r.mapcalc parity: if(NULL, a, b) is NULL, not the else arm —
    # a cloud-masked condition pixel must not silently pick b
    c = np.asarray(c, dtype=np.float64)
    return np.where(np.isnan(c), np.nan, np.where(c != 0, a, b))


_FUNCS = {
    "if_": _if_,
    "isnull": lambda x: np.isnan(np.asarray(x, dtype=np.float64)).astype(np.float64),
    "null": lambda: np.nan,
    "abs": np.abs,
    "sqrt": np.sqrt,
    "exp": np.exp,
    "log": np.log,
    "log10": np.log10,
    "floor": np.floor,
    "ceil": np.ceil,
    "round": np.round,
    "min": np.minimum,
    "max": np.maximum,
    "pow": np.power,
}

_BINOPS = {
    ast.Add: np.add, ast.Sub: np.subtract, ast.Mult: np.multiply,
    ast.Div: np.divide, ast.Mod: np.mod, ast.Pow: np.power,
}

_CMPOPS = {
    ast.Gt: np.greater, ast.Lt: np.less, ast.GtE: np.greater_equal,
    ast.LtE: np.less_equal, ast.Eq: np.equal, ast.NotEq: np.not_equal,
}


def compile_expr(expr: str, names: list[str]):
    """Compile an expression string to a numpy evaluator fn(env) -> plane.

    Raises ValueError at compile time for any construct outside the
    whitelist — nothing user-supplied is ever exec'd/eval'd as Python.
    """
    tree = ast.parse(expr, mode="eval")

    def build(node):
        if isinstance(node, ast.Expression):
            return build(node.body)
        if isinstance(node, ast.Constant):
            if isinstance(node.value, (int, float)) and not isinstance(node.value, bool):
                v = float(node.value)
                return lambda env: v
            raise ValueError(f"non-numeric literal {node.value!r}")
        if isinstance(node, ast.Name):
            if node.id not in names:
                raise ValueError(f"unknown raster name {node.id!r}; inputs: {names}")
            k = node.id
            return lambda env: env[k]
        if isinstance(node, ast.UnaryOp) and isinstance(node.op, ast.USub):
            f = build(node.operand)
            return lambda env: -f(env)
        if isinstance(node, ast.BinOp) and type(node.op) in _BINOPS:
            op, lf, rf = _BINOPS[type(node.op)], build(node.left), build(node.right)
            return lambda env: op(lf(env), rf(env))
        if isinstance(node, ast.Compare):
            if len(node.ops) != 1:
                raise ValueError("chained comparisons are not supported")
            if type(node.ops[0]) not in _CMPOPS:
                raise ValueError(f"unsupported comparison {node.ops[0]!r}")
            op = _CMPOPS[type(node.ops[0])]
            lf, rf = build(node.left), build(node.comparators[0])
            # r.mapcalc semantics: comparisons yield 0/1, NULL where an
            # operand is NULL
            def cmpf(env, op=op, lf=lf, rf=rf):
                a = np.asarray(lf(env), dtype=np.float64)
                b = np.asarray(rf(env), dtype=np.float64)
                out = op(a, b).astype(np.float64)
                bad = np.isnan(a) | np.isnan(b)
                if bad.any():
                    out = np.where(bad, np.nan, out)
                return out
            return cmpf
        if isinstance(node, ast.BoolOp):
            op = np.minimum if isinstance(node.op, ast.And) else np.maximum
            fs = [build(v) for v in node.values]
            def boolf(env, op=op, fs=fs):
                out = fs[0](env)
                for f in fs[1:]:
                    out = op(out, f(env))
                return out
            return boolf
        if isinstance(node, ast.Call):
            if not isinstance(node.func, ast.Name) or node.func.id not in _FUNCS:
                raise ValueError(f"unsupported function call at {ast.dump(node)[:60]}")
            if node.keywords:
                raise ValueError("keyword arguments are not supported")
            fn = _FUNCS[node.func.id]
            argfs = [build(a) for a in node.args]
            return lambda env: fn(*[f(env) for f in argfs])
        raise ValueError(f"unsupported syntax: {ast.dump(node)[:80]}")

    return build(tree)


ALGEBRA_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("scene_id", StringType()),
    StructField("tile_x", IntegerType()),
    StructField("tile_y", IntegerType()),
    StructField("w", IntegerType()),
    StructField("h", IntegerType()),
    StructField("out_bytes", BinaryType()),   # float32 LE result plane
    StructField("n_valid", LongType()),
    StructField("out_min", DoubleType()),
    StructField("out_max", DoubleType()),
    StructField("out_mean", DoubleType()),
])


def _plane_stats(out: np.ndarray) -> tuple:
    """ALGEBRA_SCHEMA's values after the ids: f32 plane bytes + stats."""
    return (np.ascontiguousarray(out).astype("<f4").tobytes(),
            *_finite_stats(out))


def map_algebra(tiles: DataFrame, expr: str,
                inputs: dict[str, str] | None = None) -> DataFrame:
    """Evaluate a map-algebra expression over raster tile columns.

    ``inputs`` maps expression names to byte columns of ``tiles`` (default
    ``{"lst": "lst_bytes", "cwv": "cwv_bytes"}`` — the lst_tiles product).
    All input planes of a tile must share its (w, h). One mapInArrow hop,
    embarrassingly parallel, with with per-tile output stats so metadata
    consumers never decode the result bytes.

    Example: ``map_algebra(tiles, "if_(lst > 300.15, lst - 273.15, null())")``
    is the r.mapcalc hot-mask-in-Celsius one-liner.
    """
    inputs = dict(inputs or {"lst": "lst_bytes", "cwv": "cwv_bytes"})
    names = list(inputs)
    fn_expr = compile_expr(expr, names)  # compile on the driver: fail fast

    def fn(row, w, h):
        env = {n: codecs.decode_f32bt(getattr(row, c), w, h).astype(np.float64)
               for n, c in inputs.items()}
        return _plane_stats(np.broadcast_to(
            np.asarray(fn_expr(env), dtype=np.float64), (h, w)))

    return _tile_map(tiles, ALGEBRA_SCHEMA, fn, _PLANE_IDS)


# --------------------------------------------------------------------------
# Raster resampling (r.resamp.interp analog): nearest / bilinear per tile.
# --------------------------------------------------------------------------


def resample_plane(x: np.ndarray, out_h: int, out_w: int,
                   method: str = "bilinear") -> np.ndarray:
    """Resample one plane to (out_h, out_w) with cell-center alignment
    (source pixel centers at i+0.5 of the cell grid — the raster
    convention, so up/downsampling keeps the footprint fixed).

    NULL semantics follow r.resamp.interp: a bilinear output is NULL when
    ANY of the 4 contributing source cells is NULL; nearest passes the
    source cell through (NULL included).
    """
    h, w = x.shape
    ys = (np.arange(out_h) + 0.5) * (h / out_h) - 0.5
    xs = (np.arange(out_w) + 0.5) * (w / out_w) - 0.5
    if method == "nearest":
        yi = np.clip(np.rint(ys).astype(np.int64), 0, h - 1)
        xi = np.clip(np.rint(xs).astype(np.int64), 0, w - 1)
        return x[np.ix_(yi, xi)]
    if method != "bilinear":
        raise ValueError(f"method must be 'nearest' or 'bilinear', got {method!r}")
    y0 = np.clip(np.floor(ys).astype(np.int64), 0, h - 1)
    x0 = np.clip(np.floor(xs).astype(np.int64), 0, w - 1)
    y1 = np.minimum(y0 + 1, h - 1)
    x1 = np.minimum(x0 + 1, w - 1)
    fy = np.clip(ys - y0, 0.0, 1.0)[:, None]
    fx = np.clip(xs - x0, 0.0, 1.0)[None, :]
    a = x[np.ix_(y0, x0)]
    b = x[np.ix_(y0, x1)]
    c = x[np.ix_(y1, x0)]
    d = x[np.ix_(y1, x1)]
    # NaN in any corner propagates through the arithmetic on its own
    return (a * (1 - fy) * (1 - fx) + b * (1 - fy) * fx
            + c * fy * (1 - fx) + d * fy * fx)


RESAMPLE_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("scene_id", StringType()),
    StructField("tile_x", IntegerType()),
    StructField("tile_y", IntegerType()),
    StructField("w", IntegerType()),
    StructField("h", IntegerType()),
    StructField("out_bytes", BinaryType()),
    StructField("n_valid", LongType()),
])


def resample_tiles(tiles: DataFrame, scale: float,
                   method: str = "bilinear",
                   src_col: str = "lst_bytes") -> DataFrame:
    """Per-tile raster resample (scale > 1 upsamples). Tile-local like the
    overview pyramid — one embarrassingly parallel mapInArrow hop; output
    w/h are the scaled dims. numpy-oracle parity in tests/test_algebra.py."""
    if scale <= 0:
        raise ValueError(f"scale must be positive, got {scale}")
    if method not in ("nearest", "bilinear"):
        raise ValueError(f"method must be 'nearest' or 'bilinear', got {method!r}")

    def fn(row, w, h):
        ow, oh = max(1, round(w * scale)), max(1, round(h * scale))
        plane = codecs.decode_f32bt(getattr(row, src_col), w, h).astype(np.float64)
        out = resample_plane(plane, oh, ow, method)
        return (ow, oh, np.ascontiguousarray(out).astype("<f4").tobytes(),
                int(np.isfinite(out).sum()))

    return _tile_map(tiles, RESAMPLE_SCHEMA, fn, ("image_id", *_TILE_KEY))


# --------------------------------------------------------------------------
# Category reclassification (r.reclass / r.recode analog)
# --------------------------------------------------------------------------

def parse_reclass_rules(text: str) -> list[tuple]:
    """Parse GRASS r.reclass rules text into an ordered rule list.

    Supported line forms (labels after the new category are ignored,
    ``#`` comments and blank lines skipped)::

        1 2 3 = 10   water bodies
        100 thru 200 = 5
        * = NULL

    New category ``NULL`` (any case) maps to NULL. Rules apply in order
    with FIRST match winning (the engine's OQ-1 first-match convention,
    stated here because GRASS's own precedence for duplicated categories
    is not verifiable offline); categories matched by no rule become NULL,
    exactly like r.reclass. Returns [(kind, payload, new)] with kind in
    {"cats", "range", "star"} and new = float or None (NULL)."""
    rules: list[tuple] = []
    for ln, raw in enumerate(text.splitlines(), 1):
        line = raw.split("#", 1)[0].strip()
        if not line:
            continue
        if "=" not in line:
            raise ValueError(f"reclass rule line {ln}: no '=' in {raw!r}")
        lhs, rhs = line.split("=", 1)
        rhs_parts = rhs.split()
        if not rhs_parts:
            raise ValueError(f"reclass rule line {ln}: empty target in {raw!r}")
        tgt = rhs_parts[0]  # anything after the category is a label
        new = None if tgt.upper() == "NULL" else float(int(tgt))
        lp = lhs.split()
        if lp == ["*"]:
            rules.append(("star", None, new))
        elif len(lp) == 3 and lp[1].lower() == "thru":
            lo, hi = int(lp[0]), int(lp[2])
            if hi < lo:
                raise ValueError(
                    f"reclass rule line {ln}: empty range {raw!r}")
            rules.append(("range", (lo, hi), new))
        elif lp and all(p.lstrip("-").isdigit() for p in lp):
            rules.append(("cats", [int(p) for p in lp], new))
        else:
            raise ValueError(f"reclass rule line {ln}: cannot parse {raw!r}")
    if not rules:
        raise ValueError("reclass rules text contains no rules")
    return rules


def reclass_plane(x: np.ndarray, rules: list[tuple]) -> np.ndarray:
    """Apply parsed reclass rules to one plane. Input values round to the
    nearest integer category (the planes are f32 carriers of CELL ints);
    NULL stays NULL; unmatched categories become NULL."""
    cat = np.rint(x)
    out = np.full(x.shape, np.nan)
    todo = np.isfinite(x)
    for kind, payload, new in rules:
        if kind == "cats":
            m = todo & np.isin(cat, payload)
        elif kind == "range":
            m = todo & (cat >= payload[0]) & (cat <= payload[1])
        else:
            m = todo.copy()
        if new is not None:
            out[m] = new
        todo &= ~m
    return out


def reclass_col(col, rules: list[tuple]):
    """The same rules as a Catalyst Column over an integer column — one
    first-match WHEN chain, NULL input and unmatched categories to NULL.
    Lets relational twins attest the rule semantics cross-engine."""
    from pyspark.sql import functions as F

    expr = None
    for kind, payload, new in rules:
        val = F.lit(None).cast("double") if new is None else F.lit(new)
        if kind == "cats":
            cond = col.isin(payload)
        elif kind == "range":
            cond = (col >= payload[0]) & (col <= payload[1])
        else:
            cond = F.lit(True)
        expr = F.when(cond, val) if expr is None else expr.when(cond, val)
    return F.when(col.isNotNull(), expr.otherwise(F.lit(None).cast("double")))


def reclass_sql(col_expr: str, rules: list[tuple]) -> str:
    """The same rules as an ANSI-SQL CASE chain (DuckDB oracle side)."""
    arms = []
    for kind, payload, new in rules:
        val = "NULL" if new is None else repr(new)
        if kind == "cats":
            cond = f"{col_expr} IN ({', '.join(str(c) for c in payload)})"
        elif kind == "range":
            cond = f"{col_expr} BETWEEN {payload[0]} AND {payload[1]}"
        else:
            cond = "TRUE"
        arms.append(f"WHEN {cond} THEN {val}")
    return f"CASE {' '.join(arms)} ELSE NULL END"


def reclass_tiles(tiles: DataFrame, rules_text: str,
                  inputs: dict[str, str] | None = None) -> DataFrame:
    """r.reclass over a tile raster column: ONE mapInArrow hop applying
    the parsed rules per tile (ALGEBRA_SCHEMA output, stats included).
    ``inputs`` must name exactly one column (default lst_bytes)."""
    inputs = dict(inputs or {"x": "lst_bytes"})
    if len(inputs) != 1:
        raise ValueError("reclass_tiles takes exactly one input column")
    (src_col,) = inputs.values()
    rules = parse_reclass_rules(rules_text)  # driver-side: fail fast

    def fn(row, w, h):
        x = codecs.decode_f32bt(getattr(row, src_col), w, h).astype(np.float64)
        return _plane_stats(reclass_plane(x, rules))

    return _tile_map(tiles, ALGEBRA_SCHEMA, fn, _PLANE_IDS)
