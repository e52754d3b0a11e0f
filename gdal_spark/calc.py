"""gdal_calc surface: ``--calc`` expression strings over lettered bands.

Reference: ``swig/python/gdal-utils/osgeo_utils/gdal_calc.py`` — the
utility evaluates a numpy expression (``--calc "A*2 + (B>5)*100"``)
over whole band arrays, block by block, with capital letters bound to
input bands. The Spark restatement keeps the exact evaluation model but
distributes it by tile: one equi-join per extra band on the tile key
``(z, tx, ty)`` co-locates the buffers, then the AST-validated
expression runs once per tile over numpy arrays inside ``mapInPandas``
— whole-array numpy, never per-pixel Python, and never an open
``eval`` of user text.
"""

from __future__ import annotations

import ast
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gdal_spark.raster import TILE_SCHEMA, decode_pixels, encode_tile

# the numpy functions gdal_calc expressions conventionally use
ALLOWED_FUNCS = (
    "sqrt", "abs", "exp", "log", "log10", "sin", "cos", "tan",
    "minimum", "maximum", "where", "power", "floor", "ceil", "round",
    "logical_and", "logical_or", "logical_not",
)

_ALLOWED_NODES = (
    ast.Expression, ast.BinOp, ast.UnaryOp, ast.Compare, ast.BoolOp,
    ast.Call, ast.Constant, ast.Name, ast.Load,
    ast.operator, ast.unaryop, ast.cmpop, ast.boolop,
)


def compile_calc(calc: str, band_names: list[str]):
    """Validate + compile a gdal_calc expression.

    Only arithmetic / comparison / boolean operators, numeric literals,
    the given band letters, and the whitelisted numpy functions are
    accepted (the surface gdal_calc.py itself evaluates) — anything
    else raises ValueError before any evaluation happens.
    """
    tree = ast.parse(calc, mode="eval")
    for node in ast.walk(tree):
        if not isinstance(node, _ALLOWED_NODES):
            raise ValueError(
                f"unsupported syntax in calc expression: "
                f"{type(node).__name__}")
        if isinstance(node, ast.Name) and node.id not in band_names \
                and node.id not in ALLOWED_FUNCS:
            raise ValueError(f"unknown name in calc expression: {node.id}")
        if isinstance(node, ast.Call) and (
                not isinstance(node.func, ast.Name)
                or node.func.id not in ALLOWED_FUNCS):
            raise ValueError("only whitelisted numpy functions callable")
        if isinstance(node, ast.Constant) \
                and not isinstance(node.value, (int, float)):
            raise ValueError("only numeric literals allowed")
    code = compile(tree, "<gdal_calc>", "eval")
    env = {f: getattr(np, f) for f in ALLOWED_FUNCS}

    def kernel(bufs: dict) -> np.ndarray:
        return eval(code, {"__builtins__": {}}, {**env, **bufs})

    return kernel


def raster_calc(tiles: DataFrame, calc: str,
                bands: dict[str, int]) -> DataFrame:
    """``gdal_calc.py -A … -B … --calc <expr>``: elementwise band
    algebra; output is a single band-1 raster on the same tile grid.

    bands maps expression letters to band numbers in ``tiles``
    (`(z, tx, ty, band, gt, data)` rows).
    """
    letters = sorted(bands)
    kernel = compile_calc(calc, letters)

    base = letters[0]
    out = tiles.filter(F.col("band") == bands[base]).select(
        "z", "tx", "ty", "gt", F.col("data").alias(f"_d_{base}"))
    for letter in letters[1:]:
        side = tiles.filter(F.col("band") == bands[letter]).select(
            "z", "tx", "ty", F.col("data").alias(f"_d_{letter}"))
        out = out.join(side, ["z", "tx", "ty"])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            res = []
            for _, row in pdf.iterrows():
                bufs = {letter: decode_pixels(row[f"_d_{letter}"])
                        for letter in letters}
                res.append(encode_tile(kernel(bufs)))
            yield pd.DataFrame({
                "z": pdf["z"], "tx": pdf["tx"], "ty": pdf["ty"],
                "band": 1, "gt": pdf["gt"], "data": res,
            })

    return out.mapInPandas(run, TILE_SCHEMA)
