"""gdal_rasterize LINESTRING burner — GDALdllImageLine parity.

The closed form minor_offset(i) = floor((2·m·i + M − 1) / (2·M)) must
reproduce the reference's shifted-error Bresenham loop
(alg/llrasterize.cpp:252-380) burn-for-burn, including the
skip-endpoint-unless-last-segment rule and ADD-mode multiplicities.
"""

import math

import numpy as np
import pandas as pd
import pytest


def _gdal_dll_image_line(parts):
    """Literal Python transcription of the reference loop
    (alg/llrasterize.cpp:255-380, constant burn value): returns the
    ordered list of (iX, iY) burn calls for one geometry's parts, each
    part a list of float (x, y) vertices in pixel space."""
    burns = []
    for part in parts:
        n = len(part)
        for j in range(1, n):
            ix = math.floor(part[j - 1][0])
            iy = math.floor(part[j - 1][1])
            ix1 = math.floor(part[j][0])
            iy1 = math.floor(part[j][1])
            ndx = abs(ix1 - ix)
            ndy = abs(iy1 - iy)
            xstep = -1 if ix > ix1 else 1
            ystep = -1 if iy > iy1 else 1
            if ndx >= ndy:
                xerr = ndy << 1
                yerr = xerr - (ndx << 1)
                err = xerr - ndx
                if j != n - 1:
                    ndx -= 1
                while ndx >= 0:
                    ndx -= 1
                    burns.append((ix, iy))
                    ix += xstep
                    if err > 0:
                        iy += ystep
                        err += yerr
                    else:
                        err += xerr
            else:
                xerr = ndx << 1
                yerr = xerr - (ndy << 1)
                err = xerr - ndy
                if j != n - 1:
                    ndy -= 1
                while ndy >= 0:
                    ndy -= 1
                    burns.append((ix, iy))
                    iy += ystep
                    if err > 0:
                        ix += xstep
                        err += yerr
                    else:
                        err += xerr
    return burns


def _closed_form_burns(parts):
    """The engine's closed-form walk, same inputs/outputs as the loop."""
    burns = []
    for part in parts:
        n = len(part)
        for j in range(1, n):
            ix0 = math.floor(part[j - 1][0])
            iy0 = math.floor(part[j - 1][1])
            ix1 = math.floor(part[j][0])
            iy1 = math.floor(part[j][1])
            dx, dy = abs(ix1 - ix0), abs(iy1 - iy0)
            sx = -1 if ix1 < ix0 else 1
            sy = -1 if iy1 < iy0 else 1
            mj, mn = max(dx, dy), min(dx, dy)
            xmaj = dx >= dy
            imax = mj - (0 if j == n - 1 else 1)
            for i in range(0, imax + 1):
                minor = 0 if mj == 0 else (2 * mn * i + mj - 1) // (2 * mj)
                if xmaj:
                    burns.append((ix0 + i * sx, iy0 + minor * sy))
                else:
                    burns.append((ix0 + minor * sx, iy0 + i * sy))
    return burns


@pytest.mark.parametrize("seg", [
    [(0.0, 0.0), (10.0, 0.0)],          # horizontal
    [(0.0, 0.0), (0.0, 10.0)],          # vertical
    [(0.0, 0.0), (10.0, 10.0)],         # diagonal
    [(0.0, 0.0), (10.0, 5.0)],          # x-major 2:1
    [(0.0, 0.0), (5.0, 10.0)],          # y-major 1:2
    [(10.0, 5.0), (0.0, 0.0)],          # reversed
    [(0.0, 0.0), (10.0, 3.0)],          # x-major 10:3
    [(0.0, 0.0), (3.0, 10.0)],          # y-major 3:10
    [(7.0, 2.0), (-4.0, 9.0)],          # negative direction mix
    [(2.5, 3.9), (8.2, 1.1)],           # fractional vertices (floor)
    [(4.0, 4.0), (4.0, 4.0)],           # degenerate point segment
])
def test_closed_form_matches_reference_loop_single_segment(seg):
    assert _closed_form_burns([seg]) == _gdal_dll_image_line([seg])


def test_closed_form_matches_reference_loop_random_polylines():
    rng = np.random.RandomState(23)
    for _ in range(200):
        n = rng.randint(2, 8)
        part = [(float(x), float(y))
                for x, y in rng.uniform(-40, 40, size=(n, 2))]
        assert _closed_form_burns([part]) == _gdal_dll_image_line([part]), \
            part


def test_skip_endpoint_rule_and_closed_ring_double_burn():
    """Interior vertices burn once; a closed ring's closing vertex
    burns twice (the reference's documented ADD-mode artifact)."""
    open_line = [(0.0, 0.0), (5.0, 0.0), (5.0, 5.0)]
    burns = _gdal_dll_image_line([open_line])
    assert burns.count((5, 0)) == 1          # interior vertex once
    assert _closed_form_burns([open_line]).count((5, 0)) == 1

    ring = [(0.0, 0.0), (5.0, 0.0), (5.0, 5.0), (0.0, 5.0), (0.0, 0.0)]
    burns = _gdal_dll_image_line([ring])
    assert burns.count((0, 0)) == 2          # closing vertex twice
    assert _closed_form_burns([ring]).count((0, 0)) == 2


def test_spark_matches_duckdb_oracle(spark, ddb):
    from gdal_spark.rasterize_line import (rasterize_lines,
                                           rasterize_lines_oracle_sql)
    from gdal_spark.zones import zone_defs

    got = (rasterize_lines(spark, zone_defs()).toPandas()
           .sort_values(["tx", "ty"]).reset_index(drop=True))
    want = (ddb.execute(rasterize_lines_oracle_sql(zone_defs())).df()
            .sort_values(["tx", "ty"]).reset_index(drop=True))
    cols = ["z", "tx", "ty", "cs_replace", "cs_add", "n_burned"]
    assert got[cols].astype("int64").equals(want[cols].astype("int64"))
    assert len(got) > 10


def test_spark_pixels_match_reference_loop(spark):
    """End-to-end: the Spark pixel set/multiset for one zone equals the
    reference loop run on the same mercator-pixel vertices."""
    from pyspark.sql import functions as F

    from gdal_spark.rasterize_line import (_MX, _MY, RES, X0, Y0,
                                           _pix_cols, _SEG_COLS,
                                           _WALK_COLS, _zone_rows)
    from gdal_spark.zones import zone_defs

    defs = [z for z in zone_defs()][:3]
    rings = spark.createDataFrame(
        _zone_rows(defs),
        "zone_id int, eas_id int, ring_idx int,"
        " lons array<double>, lats array<double>")
    m = rings.select(
        "zone_id",
        F.expr(f"transform(lons, v -> {_MX.format(v='v')})").alias("mxs"),
        F.expr(f"transform(lats, v -> {_MY.format(v='v')})").alias("mys"))
    segs = m.select(
        "zone_id", "mxs", "mys",
        F.expr("explode(sequence(0, size(mxs) - 2))").alias("j"),
    ).withColumn("last", F.expr("j = size(mxs) - 2"))
    for name, expr in _SEG_COLS + _WALK_COLS:
        segs = segs.withColumn(name, F.expr(expr))
    pix = segs.filter("imax >= 0").select(
        "zone_id", "ix0", "iy0", "sx", "sy", "mj", "mn", "xmaj",
        F.expr("explode(sequence(0, imax))").alias("i"))
    for name, expr in _pix_cols():
        pix = pix.withColumn(name, F.expr(expr))
    got = pix.groupBy("zone_id").agg(
        F.sort_array(F.collect_list(F.struct("gx", "gy"))).alias("px"))
    got = {r["zone_id"]: [(p["gx"], p["gy"]) for p in r["px"]]
           for r in got.collect()}

    # feed the JVM-computed mercator coords into the reference loop so
    # the comparison isolates the WALK, not libm ULP differences
    merc = {}
    for r in m.collect():
        merc.setdefault(r["zone_id"], []).append(
            [((mx - X0) / RES, (Y0 - my) / RES)
             for mx, my in zip(r["mxs"], r["mys"])])
    for z in defs:
        want = sorted(_gdal_dll_image_line(merc[z["zone_id"]]))
        assert got[z["zone_id"]] == want, z["zone_id"]


# ---------------------------------------------------------------------------
# ALL_TOUCHED variant (GDALdllImageLineAllTouched, llrasterize.cpp:382)
# ---------------------------------------------------------------------------


def _gdal_at_line(parts, n=1 << 30):
    """Literal transcription of the reference's all-touched walker
    (vertical/horizontal special cases + float-stepping general case),
    bIntersectOnly=False, bAvoidBurningSamePoints=False. Returns the
    set of (iX, iY) cells."""
    eps = 1e-4
    out = set()
    for part in parts:
        for j in range(1, len(part)):
            x, y = part[j - 1]
            xe, ye = part[j]
            if (y < 0 and ye < 0) or (y > n and ye > n) \
                    or (x < 0 and xe < 0) or (x > n and xe > n):
                continue
            if x > xe:
                x, xe = xe, x
                y, ye = ye, y
            if abs(x - xe) < 0.01:
                if ye < y:
                    y, ye = ye, y
                ix = math.floor(xe)
                iy = math.floor(y)
                iy_end = math.floor(ye - eps)
                if ix < 0 or ix >= n:
                    continue
                iy = max(iy, 0)
                iy_end = min(iy_end, n - 1)
                for r in range(iy, iy_end + 1):
                    out.add((ix, r))
                continue
            if abs(y - ye) < 0.01:
                ix = math.floor(x)
                iy = math.floor(y)
                ix_end = math.floor(xe - eps)
                if iy < 0 or iy >= n:
                    continue
                ix = max(ix, 0)
                ix_end = min(ix_end, n - 1)
                for c in range(ix, ix_end + 1):
                    out.add((c, iy))
                continue
            slope = (ye - y) / (xe - x)
            if xe > n:
                ye -= (xe - n) * slope
                xe = float(n)
            if x < 0.0:
                y += (0.0 - x) * slope
                x = 0.0
            if ye > y:
                if y < 0.0:
                    x += (0.0 - y) / slope
                    y = 0.0
                if ye >= n:
                    xe += (ye - n) / slope
                    xe = min(xe, float(n))
            else:
                if y >= n:
                    x += (n - y) / slope
                    y = float(n)
                if ye < 0.0:
                    xe -= (ye - 0) / slope
            while 0.0 <= x < xe:
                ix = math.floor(x)
                iy = math.floor(y)
                if 0 <= iy < n:
                    out.add((ix, iy))
                step_x = math.floor(x + 1.0) - x
                step_y = step_x * slope
                if math.floor(y + step_y) == iy:
                    x += step_x
                    y += step_y
                elif slope < 0:
                    step_y = min(iy - y, -1e-9)
                    x += step_y / slope
                    y += step_y
                else:
                    step_y = max((iy + 1) - y, 1e-9)
                    x += step_y / slope
                    y += step_y
    return out


def _closed_form_at(parts, n=1 << 30):
    """The engine's per-column closed form, same inputs/outputs."""
    out = set()
    for part in parts:
        for j in range(1, len(part)):
            ax, ay = part[j - 1]
            bx, by = part[j]
            if (ay < 0 and by < 0) or (ay > n and by > n) \
                    or (ax < 0 and bx < 0) or (ax > n and bx > n):
                continue
            if ax > bx:
                ax, bx = bx, ax
                ay, by = by, ay
            if abs(ax - bx) < 0.01:
                ix = math.floor(bx)
                if ix < 0 or ix >= n:
                    continue
                lo = max(math.floor(min(ay, by)), 0)
                hi = min(math.floor(max(ay, by) - 1e-4), n - 1)
                out.update((ix, r) for r in range(lo, hi + 1))
                continue
            if abs(ay - by) < 0.01:
                iy = math.floor(ay)
                if iy < 0 or iy >= n:
                    continue
                lo = max(math.floor(ax), 0)
                hi = min(math.floor(bx - 1e-4), n - 1)
                out.update((c, iy) for c in range(lo, hi + 1))
                continue
            k0 = max(math.floor(max(ax, 0.0)), 0)
            k1 = min(math.ceil(min(bx, float(n))) - 1, n - 1)
            for k in range(k0, k1 + 1):
                x_in = max(ax, float(k))
                x_out = min(bx, float(k + 1))
                if not x_in < x_out:
                    continue
                y_in = ay + (x_in - ax) * (by - ay) / (bx - ax)
                y_out = ay + (x_out - ax) * (by - ay) / (bx - ax)
                lo = max(min(math.floor(y_in), math.floor(y_out)), 0)
                hi = min(max(math.floor(y_in), math.floor(y_out)), n - 1)
                out.update((k, r) for r in range(lo, hi + 1))
    return out


def test_at_closed_form_matches_reference_walker():
    rng = np.random.RandomState(31)
    for trial in range(300):
        nv = rng.randint(2, 6)
        part = [(float(x), float(y))
                for x, y in rng.uniform(-30, 30, size=(nv, 2))]
        got = _closed_form_at([part])
        want = _gdal_at_line([part])
        assert got == want, (trial, part)


def test_at_special_cases():
    # near-vertical and near-horizontal take the reference's special
    # paths (|d| < 0.01 threshold + the 1e-4 end shortening)
    for part in ([(5.003, 1.2), (5.008, 9.7)],
                 [(1.2, 5.003), (9.7, 5.008)],
                 [(3.0001, 2.5), (3.0002, 2.6)],
                 [(0.5, 0.5), (0.5, 0.5)]):
        assert _closed_form_at([part]) == _gdal_at_line([part]), part


def test_at_superset_of_bresenham():
    """All-touched must cover every cell the plain Bresenham burns is
    NOT generally true (Bresenham can cut corners), but AT must cover
    the segment's endpoint cells and be at least as large for
    axis-aligned lines."""
    seg = [(0.2, 0.7), (17.9, 0.71)]
    at = _closed_form_at([seg])
    br = set(_gdal_dll_image_line([seg]))
    assert br <= at


def test_at_spark_matches_duckdb_oracle(spark, ddb):
    from gdal_spark.rasterize_line import (rasterize_lines_at,
                                           rasterize_lines_at_oracle_sql)
    from gdal_spark.zones import zone_defs

    got = (rasterize_lines_at(spark, zone_defs()).toPandas()
           .sort_values(["tx", "ty"]).reset_index(drop=True))
    want = (ddb.execute(rasterize_lines_at_oracle_sql(zone_defs())).df()
            .sort_values(["tx", "ty"]).reset_index(drop=True))
    cols = ["z", "tx", "ty", "cs_touched", "n_touched"]
    assert got[cols].astype("int64").equals(want[cols].astype("int64"))
    assert len(got) > 10
    # AT touches at least as many pixels as the plain Bresenham burn
    from gdal_spark.rasterize_line import rasterize_lines
    plain = rasterize_lines(spark, zone_defs()).toPandas()
    assert got["n_touched"].sum() >= plain["n_burned"].sum()
