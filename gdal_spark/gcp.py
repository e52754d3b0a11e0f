"""GCP polynomial transformer — gdal_translate -gcp + gdalwarp -order n.

Reference: ``alg/gdal_crs.cpp`` (``CRS_compute_georef_equations``, the
GRASS-derived least-squares polynomial fit behind
``GDALCreateGCPTransformer``) and ``GDALGCPTransform`` as consumed by the
warp transformer chain (``alg/gdaltransformer.cpp``,
``GDALCreateGenImgProjTransformer`` falls back to GCP polynomials when a
dataset has GCPs instead of an affine geotransform). GDAL fits BOTH
directions (pixel→world and world→pixel) independently on the same GCP
list; warping consumes the world→pixel direction. Term sets per order
match gdal_crs.cpp: order 1 → [1, x, y]; order 2 → + [x·y, x², y²];
order 3 → + [x²·y, x·y², x³, y³].

Spark-first shape: the fit runs ONCE on the driver over the tiny,
bounded GCP list — exactly where GDAL runs it — and the fitted
coefficients fold into the dst→src coordinate chain as SQL literals, so
the per-pixel path is pure Catalyst arithmetic (same chunk-gather plan
family as ``raster.warp_nearest``) and the DuckDB oracle shares the
expression text bit-for-bit. For conditioning the fit runs in a
normalized frame (inputs shifted/scaled to O(1)); the normalization
constants are part of the folded transform, not a semantic change.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gdal_spark.raster import (_lit, dst_grid, dst_grid_sql,
                               gather_dem_oracle_sql, gather_pixels)

# ground-truth quadratic georeferencing used by the synthetic GCP set:
# a mildly non-affine camera model (the case -order exists for)
_TRUTH_X = (20000.0, 731.4, 13.7, 0.031, 0.093, 0.017)   # 1,px,py,pxpy,px2,py2
_TRUTH_Y = (-15000.0, -11.3, -695.25, 0.023, 0.041, 0.077)


def _truth(px: np.ndarray, py: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    cx, cy = _TRUTH_X, _TRUTH_Y
    wx = (cx[0] + cx[1] * px + cx[2] * py + cx[3] * px * py
          + cx[4] * px * px + cx[5] * py * py)
    wy = (cy[0] + cy[1] * px + cy[2] * py + cy[3] * px * py
          + cy[4] * px * px + cy[5] * py * py)
    return wx, wy


def synth_gcps(n_side: int = 5, raster_px: int = 256) -> list[tuple]:
    """Deterministic GCP list [(pixel, line, X, Y)]: an n_side×n_side
    pixel grid georeferenced through the ground-truth quadratic."""
    ij = (np.arange(n_side, dtype=np.float64) + 0.37) * raster_px / n_side
    py, px = np.meshgrid(ij, ij, indexing="ij")
    px, py = px.ravel(), py.ravel()
    wx, wy = _truth(px, py)
    return list(zip(px.tolist(), py.tolist(), wx.tolist(), wy.tolist()))


def _terms(x: np.ndarray, y: np.ndarray, order: int) -> np.ndarray:
    """Design-matrix columns per gdal_crs.cpp's term sets."""
    cols = [np.ones_like(x), x, y]
    if order >= 2:
        cols += [x * y, x * x, y * y]
    if order >= 3:
        cols += [x * x * y, x * y * y, x ** 3, y ** 3]
    if order not in (1, 2, 3):
        raise ValueError("GCP polynomial order must be 1, 2 or 3")
    return np.stack(cols, axis=1)


def fit_gcp_poly(gcps: list[tuple], order: int) -> dict:
    """Least-squares fit of both transform directions on the GCP list
    (CRS_compute_georef_equations). Returns the normalized-frame fit:
    {"fwd": ..., "inv": ...}, each (mx, my, sx, sy, coef_u, coef_v)
    mapping (a, b) → ((a-mx)/sx, (b-my)/sy) → polynomial → (u, v)."""
    g = np.asarray(gcps, dtype=np.float64)
    px, py, wx, wy = g[:, 0], g[:, 1], g[:, 2], g[:, 3]
    n_terms = _terms(px[:1], py[:1], order).shape[1]
    if len(gcps) < n_terms:
        raise ValueError(f"order-{order} fit needs >= {n_terms} GCPs")

    def one(ax: np.ndarray, ay: np.ndarray, u: np.ndarray,
            v: np.ndarray) -> tuple:
        mx, my = float(ax.mean()), float(ay.mean())
        sx = float(ax.std()) or 1.0
        sy = float(ay.std()) or 1.0
        a = _terms((ax - mx) / sx, (ay - my) / sy, order)
        cu, *_ = np.linalg.lstsq(a, u, rcond=None)
        cv, *_ = np.linalg.lstsq(a, v, rcond=None)
        return (mx, my, sx, sy, cu.tolist(), cv.tolist())

    return {"fwd": one(px, py, wx, wy), "inv": one(wx, wy, px, py)}


def _poly_sql(coef: list[float], xn: str, yn: str) -> str:
    """Polynomial over the normalized coords, folded literals."""
    terms = [f"{_lit(coef[0])}", f"{_lit(coef[1])} * {xn}",
             f"{_lit(coef[2])} * {yn}"]
    if len(coef) >= 6:
        terms += [f"{_lit(coef[3])} * {xn} * {yn}",
                  f"{_lit(coef[4])} * {xn} * {xn}",
                  f"{_lit(coef[5])} * {yn} * {yn}"]
    if len(coef) == 10:
        terms += [f"{_lit(coef[6])} * {xn} * {xn} * {yn}",
                  f"{_lit(coef[7])} * {xn} * {yn} * {yn}",
                  f"{_lit(coef[8])} * {xn} * {xn} * {xn}",
                  f"{_lit(coef[9])} * {yn} * {yn} * {yn}"]
    return "(" + " + ".join(terms) + ")"


def gcp_transform_sql(fit_dir: tuple, xe: str, ye: str) -> tuple[str, str]:
    """SQL exprs applying one fitted direction to (xe, ye) — shared
    text between the Spark plan and the DuckDB oracle."""
    mx, my, sx, sy, cu, cv = fit_dir
    xn = f"(({xe}) - {_lit(mx)}) / {_lit(sx)}"
    yn = f"(({ye}) - {_lit(my)}) / {_lit(sy)}"
    # name the normalized coords once per row via a nested expression:
    # both engines fold common subexpressions; keep the text identical.
    return _poly_sql(cu, f"({xn})", f"({yn})"), \
        _poly_sql(cv, f"({xn})", f"({yn})")


def warp_gcp_pixel_sql(fit: dict, dst_gt: list[float]) -> tuple[str, str]:
    """dst pixel (di, dj) → dst world (affine dst_gt) → src pixel via
    the fitted world→pixel GCP polynomial → floor (nearest)."""
    wx = f"({_lit(dst_gt[0])} + (di + 0.5) * {_lit(dst_gt[1])})"
    wy = f"({_lit(dst_gt[3])} + (dj + 0.5) * {_lit(dst_gt[5])})"
    spx, spy = gcp_transform_sql(fit["inv"], wx, wy)
    return (f"cast(floor({spx}) as bigint)",
            f"cast(floor({spy}) as bigint)")


def warp_gcp_nearest(tiles: DataFrame, fit: dict, raster_px: int,
                     dst_gt: list[float], dst_px: int) -> DataFrame:
    """Nearest warp of a GCP-georeferenced source onto an affine dst
    grid (gdalwarp -order n): the same chunk-gather plan as
    raster.warp_nearest, with the dst→src chain running through the
    fitted polynomial instead of an inverted affine."""
    sgx_e, sgy_e = warp_gcp_pixel_sql(fit, dst_gt)
    dst = dst_grid(tiles.sparkSession, dst_px).selectExpr(
        "di", "dj", f"{sgx_e} as gx", f"{sgy_e} as gy")
    return gather_pixels(dst, tiles, raster_px, ["di", "dj"])


def warp_gcp_oracle_sql(fit: dict, raster_px: int, dst_gt: list[float],
                        dst_px: int, elev_sql: str) -> str:
    """DuckDB oracle: identical dst→world→poly→floor chain over a range
    grid, closed-form DEM values."""
    sgx_e, sgy_e = warp_gcp_pixel_sql(fit, dst_gt)
    return gather_dem_oracle_sql(
        f"(select di, dj, {sgx_e} as gx, {sgy_e} as gy"
        f" from {dst_grid_sql(dst_px)} d) m", raster_px, elev_sql)


def default_dst_grid(raster_px: int, dst_px: int) -> list[float]:
    """An affine dst grid covering ~94% of the GCP truth's world
    footprint (deterministic: sampled corners of the ground-truth
    quadratic), the -te/-tr gdalwarp would compute from
    GDALSuggestedWarpOutput."""
    s = np.linspace(0.0, float(raster_px), 33)
    py, px = np.meshgrid(s, s, indexing="ij")
    wx, wy = _truth(px.ravel(), py.ravel())
    x_min, x_max = float(wx.min()), float(wx.max())
    y_min, y_max = float(wy.min()), float(wy.max())
    return [x_min + 0.03 * (x_max - x_min),
            0.94 * (x_max - x_min) / dst_px, 0.0,
            y_max - 0.03 * (y_max - y_min), 0.0,
            -0.94 * (y_max - y_min) / dst_px]


# ---------------------------------------------------------------------------
# Thin-plate-spline transformer (gdalwarp -tps)
# ---------------------------------------------------------------------------


def _tps_u(d2: np.ndarray) -> np.ndarray:
    """The reference's basis (alg/thinplatespline.cpp:179): for squared
    distance d2, U = d2 * ln(d2), 0 at d2 = 0."""
    out = np.zeros_like(d2)
    nz = d2 > 0
    out[nz] = d2[nz] * np.log(d2[nz])
    return out


def fit_tps(gcps: list[tuple]) -> dict:
    """Thin-plate-spline fit of the world→pixel direction on the GCP
    list (GDALCreateTPSTransformer / VizGeorefSpline2D semantics:
    f = affine + Σ wᵢ·U(|p-cᵢ|²), side conditions Σw = Σw·x = Σw·y = 0;
    TPS interpolates the GCPs EXACTLY, unlike the polynomial orders).
    The solve runs once on the driver over the bounded (n+3) system —
    where GDAL runs it — in a normalized input frame for conditioning
    (the normalization constants are folded into the transform, which
    the engine and oracle share as literals)."""
    g = np.asarray(gcps, dtype=np.float64)
    wx, wy, px, py = g[:, 2], g[:, 3], g[:, 0], g[:, 1]
    mx, my = float(wx.mean()), float(wy.mean())
    sx = float(wx.std()) or 1.0
    sy = float(wy.std()) or 1.0
    cx, cy = (wx - mx) / sx, (wy - my) / sy
    n = len(gcps)
    d2 = (cx[:, None] - cx[None, :]) ** 2 + (cy[:, None] - cy[None, :]) ** 2
    a = np.zeros((n + 3, n + 3))
    a[:n, :n] = _tps_u(d2)
    p = np.stack([np.ones(n), cx, cy], axis=1)
    a[:n, n:] = p
    a[n:, :n] = p.T
    sol = np.linalg.solve(a, np.stack(
        [np.concatenate([px, np.zeros(3)]),
         np.concatenate([py, np.zeros(3)])], axis=1))
    return {"mx": mx, "my": my, "sx": sx, "sy": sy,
            "cx": cx.tolist(), "cy": cy.tolist(),
            "wu": sol[:n, 0].tolist(), "au": sol[n:, 0].tolist(),
            "wv": sol[:n, 1].tolist(), "av": sol[n:, 1].tolist()}


def _arr_lit(vals: list[float], engine: str) -> str:
    body = ", ".join(_lit(v) for v in vals)
    return f"array({body})" if engine == "spark" else f"[{body}]"


def tps_rbf_sql(fit: dict, engine: str) -> tuple[str, str]:
    """The two TPS output expressions over staged columns (_xn, _yn),
    as sequential FOLDS over array literals of centers/weights — one
    compact higher-order expression instead of per-center staged
    columns, so Catalyst's project-collapse cannot re-substitute the
    center terms into a combinatorial tree (the first spelling hung
    the optimizer: 16 centers x 3 occurrences x 4 coordinate refs
    x N consuming expressions). Fold order is the index sequence in
    BOTH engines, so float sums are bit-identical."""
    n = len(fit["cx"])
    cx = _arr_lit(fit["cx"], engine)
    cy = _arr_lit(fit["cy"], engine)

    def fold(w: list[float], aff: list[float]) -> str:
        wl = _arr_lit(w, engine)
        if engine == "spark":
            d2 = (f"(_xn - element_at({cx}, i + 1))"
                  f" * (_xn - element_at({cx}, i + 1))"
                  f" + (_yn - element_at({cy}, i + 1))"
                  f" * (_yn - element_at({cy}, i + 1))")
            term = (f"element_at({wl}, i + 1) *"
                    f" (case when ({d2}) = 0 then cast(0 as double)"
                    f" else ({d2}) * ln({d2}) end)")
            rbf = (f"aggregate(transform(sequence(0, {n - 1}),"
                   f" i -> {term}), cast(0 as double), (x, y) -> x + y)")
        else:
            d2 = (f"(_xn - {cx}[i + 1]) * (_xn - {cx}[i + 1])"
                  f" + (_yn - {cy}[i + 1]) * (_yn - {cy}[i + 1])")
            term = (f"{wl}[i + 1] *"
                    f" (case when ({d2}) = 0 then cast(0 as double)"
                    f" else ({d2}) * ln({d2}) end)")
            rbf = (f"list_reduce(list_concat([cast(0 as double)],"
                   f" list_transform(range(0, {n}), i -> {term})),"
                   f" (x, y) -> x + y)")
        return (f"({_lit(aff[0])} + {_lit(aff[1])} * _xn"
                f" + {_lit(aff[2])} * _yn + {rbf})")

    return fold(fit["wu"], fit["au"]), fold(fit["wv"], fit["av"])


def tps_stages(fit: dict, xe: str, ye: str,
               engine: str = "spark") -> list[tuple[str, str]]:
    """Staged shared SQL applying the TPS. The two dialects spell the
    SAME arithmetic with engine-appropriate structure:

    - Spark: one fold over array literals per output (tps_rbf_sql) —
      compact HOF, because per-center staged columns made Catalyst's
      project-collapse re-substitute the center terms into a
      combinatorial tree (the first spelling hung the optimizer);
    - DuckDB: per-center staged columns with an explicit ACCUMULATOR
      chain — because DuckDB interprets list lambdas per row (48 s vs
      1 s for stages on the fixture grid).

    Bit-parity holds by construction: the fold computes
    ((((0+t0)+t1)+...)+t15) and the accumulator chain computes the
    identical grouping, then both add the affine part in the same
    left-to-right order. Output columns: _spx, _spy."""
    stages = [
        ("_xn", f"(({xe}) - {_lit(fit['mx'])}) / {_lit(fit['sx'])}"),
        ("_yn", f"(({ye}) - {_lit(fit['my'])}) / {_lit(fit['sy'])}"),
    ]
    if engine == "spark":
        spx, spy = tps_rbf_sql(fit, engine)
        return stages + [("_spx", spx), ("_spy", spy)]
    n = len(fit["cx"])
    for i in range(n):
        stages.append(
            (f"_d{i}",
             f"(_xn - {_lit(fit['cx'][i])}) * (_xn - {_lit(fit['cx'][i])})"
             f" + (_yn - {_lit(fit['cy'][i])})"
             f" * (_yn - {_lit(fit['cy'][i])})"))
    for i in range(n):
        stages.append(
            (f"_u{i}", f"case when _d{i} = 0 then cast(0 as double)"
                       f" else _d{i} * ln(_d{i}) end"))
    for pref, w in (("_ax", fit["wu"]), ("_ay", fit["wv"])):
        stages.append((f"{pref}0",
                       f"cast(0 as double) + {_lit(w[0])} * _u0"))
        for i in range(1, n):
            stages.append((f"{pref}{i}",
                           f"{pref}{i - 1} + {_lit(w[i])} * _u{i}"))
    au, av = fit["au"], fit["av"]
    stages.append(("_spx", f"{_lit(au[0])} + {_lit(au[1])} * _xn"
                           f" + {_lit(au[2])} * _yn + _ax{n - 1}"))
    stages.append(("_spy", f"{_lit(av[0])} + {_lit(av[1])} * _xn"
                           f" + {_lit(av[2])} * _yn + _ay{n - 1}"))
    return stages


def warp_tps_nearest(tiles: DataFrame, fit: dict, raster_px: int,
                     dst_gt: list[float], dst_px: int) -> DataFrame:
    """Nearest warp through the TPS transformer (gdalwarp -tps): the
    same chunk-gather plan as warp_gcp_nearest; the RBF evaluation is
    staged Catalyst columns (one per center) inside codegen."""
    wx = f"({_lit(dst_gt[0])} + (di + 0.5) * {_lit(dst_gt[1])})"
    wy = f"({_lit(dst_gt[3])} + (dj + 0.5) * {_lit(dst_gt[5])})"
    dst = dst_grid(tiles.sparkSession, dst_px)
    for name, expr in tps_stages(fit, wx, wy, "spark"):
        dst = dst.withColumn(name, F.expr(expr))
    dst = dst.selectExpr("di", "dj", "cast(floor(_spx) as bigint) as gx",
                         "cast(floor(_spy) as bigint) as gy")
    return gather_pixels(dst, tiles, raster_px, ["di", "dj"])


def warp_tps_oracle_sql(fit: dict, raster_px: int, dst_gt: list[float],
                        dst_px: int, elev_sql: str) -> str:
    """DuckDB oracle: identical staged TPS chain over a range grid."""
    from gdal_spark.crs import stages_to_duckdb_sql

    wx = f"({_lit(dst_gt[0])} + (di + 0.5) * {_lit(dst_gt[1])})"
    wy = f"({_lit(dst_gt[3])} + (dj + 0.5) * {_lit(dst_gt[5])})"
    stages = tps_stages(fit, wx, wy, "duckdb") + [
        ("gx", "cast(floor(_spx) as bigint)"),
        ("gy", "cast(floor(_spy) as bigint)"),
    ]
    inner = stages_to_duckdb_sql(f"select * from {dst_grid_sql(dst_px)} g",
                                 stages, ["di", "dj", "gx", "gy"])
    return gather_dem_oracle_sql(f"({inner}) m", raster_px, elev_sql)
