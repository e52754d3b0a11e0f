"""gdal_rasterize over LINESTRING geometry — GDALdllImageLine semantics.

Replicates the reference's integer Bresenham line burner
(alg/llrasterize.cpp:252 GDALdllImageLine): vertices floor to integer
pixels, each segment walks its major axis with the shifted-error
midpoint rule, and a segment's end point is NOT burned unless it is the
part's last segment (the reference's guard against double-burning
interior vertices in ADD mode; a closed ring still double-burns its
closing vertex, matching the reference). MERGE_ALG=REPLACE takes the
last feature in layer order per pixel (max_by over feature id);
MERGE_ALG=ADD sums every burn event, revisits included, exactly like
the callback accumulation in the reference.

Spark-first shape — NO per-row Python: the error-loop has a closed
form, minor_offset(i) = floor((2·m·i + M − 1) / (2·M)) for burn index
i along the major axis (verified against the reference's loop term by
term in tests/test_rasterize_line.py), so the whole burner is a
`sequence`/`explode` over segments followed by two aggregations
(per-pixel merge, per-tile checksum). Pixel rows shuffle once, keyed
by pixel, a few hundred rows per tile at any scale — at 100× the
vector input this stays explode → partial-agg with zero gathers.

The DuckDB oracle (`rasterize_lines_oracle_sql`) runs the identical
integer arithmetic via generate_series + lateral unnest and the same
checksum text (GDALChecksumImage formula, gcore/checksum.cpp).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gdal_spark.crs import _fmt
from gdal_spark.raster import CHECKSUM_PRIMES, TILE_PX
from gdal_spark.rasterize_poly import (_NPX, RASTERIZE_Z, RES, X0, Y0,
                                       _MX, _MY, _zone_rows)

_T = TILE_PX
_PRIMES = ", ".join(str(p) for p in CHECKSUM_PRIMES)

# pixel-space segment endpoints (integer, floored — llrasterize.cpp:267)
_SEG_COLS = [
    ("ix0", f"cast(floor((mxs[j] - {_fmt(X0)}) / {_fmt(RES)}) as bigint)"),
    ("iy0", f"cast(floor(({_fmt(Y0)} - mys[j]) / {_fmt(RES)}) as bigint)"),
    ("ix1", f"cast(floor((mxs[j + 1] - {_fmt(X0)}) / {_fmt(RES)})"
            f" as bigint)"),
    ("iy1", f"cast(floor(({_fmt(Y0)} - mys[j + 1]) / {_fmt(RES)})"
            f" as bigint)"),
]

# Bresenham closed form shared by both engines (integer arithmetic only).
_WALK_COLS = [
    ("dx", "abs(ix1 - ix0)"),
    ("dy", "abs(iy1 - iy0)"),
    ("sx", "case when ix1 < ix0 then -1 else 1 end"),
    ("sy", "case when iy1 < iy0 then -1 else 1 end"),
    ("mj", "greatest(dx, dy)"),
    ("mn", "least(dx, dy)"),
    ("xmaj", "dx >= dy"),
    # burn indices: 0..mj normally, 0..mj-1 when the end point is
    # skipped (every segment except the part's last)
    ("imax", "mj - (case when last then 0 else 1 end)"),
]


def _minor(i: str) -> str:
    return (f"case when mj = 0 then cast(0 as bigint)"
            f" else cast(floor((2 * mn * {i} + mj - 1)"
            f" / (2.0 * mj)) as bigint) end")


def _pix_cols() -> list[tuple[str, str]]:
    mn_i = _minor("i")
    return [
        ("gx", "ix0 + (case when xmaj then i * sx"
               f" else ({mn_i}) * sx end)"),
        ("gy", f"iy0 + (case when xmaj then ({mn_i}) * sy"
               " else i * sy end)"),
    ]


def rasterize_lines(spark: SparkSession, defs: list[dict]) -> DataFrame:
    """Burn the zone boundary rings as linestrings at RASTERIZE_Z; one
    row per covered tile: (z, tx, ty, cs_replace, cs_add, n_burned)."""
    rings = spark.createDataFrame(
        _zone_rows(defs),
        "zone_id int, eas_id int, ring_idx int,"
        " lons array<double>, lats array<double>")
    m = rings.select(
        "zone_id", "eas_id", "ring_idx",
        F.expr(f"transform(lons, v -> {_MX.format(v='v')})").alias("mxs"),
        F.expr(f"transform(lats, v -> {_MY.format(v='v')})").alias("mys"),
    )
    segs = m.filter("size(mxs) >= 2").select(
        "zone_id", "eas_id", "mxs", "mys",
        F.expr("explode(sequence(0, size(mxs) - 2))").alias("j"),
    ).withColumn("last", F.expr("j = size(mxs) - 2"))
    for name, expr in _SEG_COLS + _WALK_COLS:
        segs = segs.withColumn(name, F.expr(expr))
    pix = segs.filter("imax >= 0").select(
        "zone_id", "eas_id", "ix0", "iy0", "sx", "sy", "mj", "mn", "xmaj",
        F.expr("explode(sequence(0, imax))").alias("i"),
    )
    for name, expr in _pix_cols():
        pix = pix.withColumn(name, F.expr(expr))
    # clip to the raster, like the reference's bounds check per point
    pix = pix.filter(f"gx >= 0 and gx < {_NPX} and gy >= 0 and gy < {_NPX}")
    per_px = pix.groupBy("gx", "gy").agg(
        F.expr("max_by(eas_id, zone_id)").alias("rep_v"),
        F.sum("eas_id").alias("add_v"),
    )
    prime = (f"element_at(array({_PRIMES}),"
             f" cast(((gy % {_T}) * {_T} + (gx % {_T})) % 11 + 1 as int))")
    return (per_px
            .withColumn("tx", F.expr(f"cast(floor(gx / {_T}) as bigint)"))
            .withColumn("ty", F.expr(f"cast(floor(gy / {_T}) as bigint)"))
            .groupBy("tx", "ty")
            .agg(F.expr(f"cast(sum(rep_v % {prime}) % 65536 as bigint)")
                 .alias("cs_replace"),
                 F.expr(f"cast(sum(add_v % {prime}) % 65536 as bigint)")
                 .alias("cs_add"),
                 F.count("*").alias("n_burned"))
            .select(F.lit(RASTERIZE_Z).alias("z"), "tx", "ty",
                    "cs_replace", "cs_add", "n_burned"))


def _rings_values(defs: list[dict]) -> str:
    rows = []
    for zone_id, eas_id, ri, lons, lats in _zone_rows(defs):
        ll = ", ".join(_fmt(v) for v in lons)
        la = ", ".join(_fmt(v) for v in lats)
        rows.append(f"({zone_id}, {eas_id}, {ri}, [{ll}], [{la}])")
    return (f"(values {', '.join(rows)})"
            f" as lr(zone_id, eas_id, ring_idx, lons, lats)")


def rasterize_lines_oracle_sql(defs: list[dict]) -> str:
    """DuckDB twin: identical floor/Bresenham/checksum arithmetic."""
    mx = _MX.format(v="v")
    my = _MY.format(v="v")
    # DuckDB lists are 1-based: vertex j (0-based Spark) = [j + 1]
    sql_seg = {
        "ix0": f"cast(floor((mxs[j + 1] - {_fmt(X0)}) / {_fmt(RES)})"
               f" as bigint)",
        "iy0": f"cast(floor(({_fmt(Y0)} - mys[j + 1]) / {_fmt(RES)})"
               f" as bigint)",
        "ix1": f"cast(floor((mxs[j + 2] - {_fmt(X0)}) / {_fmt(RES)})"
               f" as bigint)",
        "iy1": f"cast(floor(({_fmt(Y0)} - mys[j + 2]) / {_fmt(RES)})"
               f" as bigint)",
    }
    walk = "\n         ".join(
        f", {e} as {n}" for n, e in _WALK_COLS if n != "imax")
    mn_i = _minor("i")
    gx, gy = dict(_pix_cols())["gx"], dict(_pix_cols())["gy"]
    prime = (f"([{_PRIMES}])"
             f"[cast(((gy % {_T}) * {_T} + (gx % {_T})) % 11 + 1 as int)]")
    return f"""
with m as (
  select zone_id, eas_id, ring_idx,
         list_transform(lons, v -> {mx}) as mxs,
         list_transform(lats, v -> {my}) as mys
  from {_rings_values(defs)}
),
segs as (
  select zone_id, eas_id, mxs, mys, j,
         (j = len(mxs) - 2) as last,
         {sql_seg['ix0']} as ix0,
         {sql_seg['iy0']} as iy0,
         {sql_seg['ix1']} as ix1,
         {sql_seg['iy1']} as iy1
  from m, unnest(generate_series(0, len(mxs) - 2)) as t(j)
),
walk as (
  select zone_id, eas_id, ix0, iy0, last
         {walk}
  from segs
),
wseg as (
  select *, mj - (case when last then 0 else 1 end) as imax from walk
),
pix as (
  select zone_id, eas_id, {gx} as gx, {gy} as gy
  from wseg, unnest(generate_series(0, imax)) as t(i)
  where imax >= 0
),
clipped as (
  select * from pix
  where gx >= 0 and gx < {_NPX} and gy >= 0 and gy < {_NPX}
),
per_px as (
  select gx, gy, max_by(eas_id, zone_id) as rep_v, sum(eas_id) as add_v
  from clipped group by gx, gy
)
select {RASTERIZE_Z} as z,
       cast(floor(gx / {_T}) as bigint) as tx,
       cast(floor(gy / {_T}) as bigint) as ty,
       cast(sum(rep_v % {prime}) % 65536 as bigint) as cs_replace,
       cast(sum(add_v % {prime}) % 65536 as bigint) as cs_add,
       count(*) as n_burned
from per_px group by tx, ty
"""


# ---------------------------------------------------------------------------
# ALL_TOUCHED line burn (gdal_rasterize -at over linestrings) —
# GDALdllImageLineAllTouched (alg/llrasterize.cpp:382-770) semantics.
#
# The reference walks the segment in float pixel space, stepping to the
# next column/row crossing and burning every cell the line passes
# through. Closed form: normalize left-to-right, then for each x-column
# k the burned rows run floor(y_in)..floor(y_out) where y_in/y_out are
# the segment's y at the column's entry/exit clipped to the half-open
# [dfX, dfXEnd) span, intersected with the raster rows. Equivalent to
# the reference walk except on measure-zero vertex-on-gridline
# alignments (the reference nudges those with 1e-9/1e-4 epsilons); the
# reference's |dx| < .01 vertical and |dy| < .01 horizontal special
# cases are reproduced verbatim, including their 1e-4 end shortening.
# MERGE_ALG=REPLACE only (the reference's bAvoidBurningSamePoints ADD
# bookkeeping is a per-part sequential dedup set — out of scope).
# ---------------------------------------------------------------------------

# left-to-right normalized float endpoints, one row per segment
_AT_SEG_COLS = [
    ("px0", f"(mxs[j] - {_fmt(X0)}) / {_fmt(RES)}"),
    ("py0", f"({_fmt(Y0)} - mys[j]) / {_fmt(RES)}"),
    ("px1", f"(mxs[j + 1] - {_fmt(X0)}) / {_fmt(RES)}"),
    ("py1", f"({_fmt(Y0)} - mys[j + 1]) / {_fmt(RES)}"),
]

_AT_NORM_COLS = [
    ("ax", "case when px0 > px1 then px1 else px0 end"),
    ("ay", "case when px0 > px1 then py1 else py0 end"),
    ("bx", "case when px0 > px1 then px0 else px1 end"),
    ("by", "case when px0 > px1 then py0 else py1 end"),
    ("vert", "abs(ax - bx) < 0.01"),
    ("horiz", "(not (abs(ax - bx) < 0.01)) and abs(ay - by) < 0.01"),
]


def _at_cells_expr() -> str:
    """SQL: array<struct<gx,gy>> of all-touched cells for one
    normalized segment row (ax, ay, bx, by, vert, horiz)."""
    n = _NPX
    # vertical special case (reference :454-522): iX = floor(bx),
    # rows floor(min_y) .. floor(max_y - 1e-4), clipped
    v_lo = "cast(floor(least(ay, by)) as bigint)"
    v_hi = "cast(floor(greatest(ay, by) - 0.0001) as bigint)"
    vert = (f"case when cast(floor(bx) as bigint) < 0"
            f" or cast(floor(bx) as bigint) >= {n} then array()"
            f" else transform("
            f" sequence(greatest({v_lo}, cast(0 as bigint)),"
            f" least({v_hi}, cast({n - 1} as bigint))),"
            f" r -> struct(cast(floor(bx) as bigint) as gx, r as gy))"
            f" end")
    # horizontal special case (reference :533-592): iY = floor(ay),
    # cols floor(ax) .. floor(bx - 1e-4), clipped
    h_lo = "cast(floor(ax) as bigint)"
    h_hi = f"cast(floor(bx - 0.0001) as bigint)"
    horiz = (f"case when cast(floor(ay) as bigint) < 0"
             f" or cast(floor(ay) as bigint) >= {n} then array()"
             f" else transform("
             f" sequence(greatest({h_lo}, cast(0 as bigint)),"
             f" least({h_hi}, cast({n - 1} as bigint))),"
             f" c -> struct(c as gx, cast(floor(ay) as bigint) as gy))"
             f" end")
    # general case: clip x to [0, n], columns over the half-open span,
    # rows floor(y_in)..floor(y_out) per column, clipped to the raster
    return f"""
case when vert then {vert}
     when horiz then {horiz}
     else flatten(transform(
       sequence(greatest(cast(floor(greatest(ax, 0.0)) as bigint),
                         cast(0 as bigint)),
                least(cast(ceil(least(bx, {float(n)})) as bigint) - 1,
                      cast({n - 1} as bigint))),
       k -> case when greatest(ax, cast(k as double))
                      < least(bx, cast(k + 1 as double))
            then transform(
              sequence(
                greatest(least(
                  cast(floor(ay + (greatest(ax, cast(k as double)) - ax)
                             * (by - ay) / (bx - ax)) as bigint),
                  cast(floor(ay + (least(bx, cast(k + 1 as double)) - ax)
                             * (by - ay) / (bx - ax)) as bigint)),
                  cast(0 as bigint)),
                least(greatest(
                  cast(floor(ay + (greatest(ax, cast(k as double)) - ax)
                             * (by - ay) / (bx - ax)) as bigint),
                  cast(floor(ay + (least(bx, cast(k + 1 as double)) - ax)
                             * (by - ay) / (bx - ax)) as bigint)),
                  cast({n - 1} as bigint))),
              r -> struct(k as gx, r as gy))
            else array() end))
end"""


def rasterize_lines_at(spark: SparkSession, defs: list[dict]) -> DataFrame:
    """ALL_TOUCHED burn of the zone boundary rings at RASTERIZE_Z; one
    row per covered tile: (z, tx, ty, cs_touched, n_touched)."""
    rings = spark.createDataFrame(
        _zone_rows(defs),
        "zone_id int, eas_id int, ring_idx int,"
        " lons array<double>, lats array<double>")
    m = rings.select(
        "zone_id", "eas_id", "ring_idx",
        F.expr(f"transform(lons, v -> {_MX.format(v='v')})").alias("mxs"),
        F.expr(f"transform(lats, v -> {_MY.format(v='v')})").alias("mys"),
    )
    segs = m.filter("size(mxs) >= 2").select(
        "zone_id", "eas_id", "mxs", "mys",
        F.expr("explode(sequence(0, size(mxs) - 2))").alias("j"),
    )
    for name, expr in _AT_SEG_COLS + _AT_NORM_COLS:
        segs = segs.withColumn(name, F.expr(expr))
    # off-raster segment skip (reference :437-441)
    segs = segs.filter(
        f"not ((ay < 0.0 and by < 0.0) or (ay > {_NPX} and by > {_NPX})"
        f" or (ax < 0.0 and bx < 0.0) or (ax > {_NPX} and bx > {_NPX}))")
    pix = segs.select(
        "zone_id", "eas_id",
        F.expr(f"explode({_at_cells_expr()})").alias("c"),
    ).selectExpr("zone_id", "eas_id", "c.gx as gx", "c.gy as gy")
    per_px = pix.groupBy("gx", "gy").agg(
        F.expr("max_by(eas_id, zone_id)").alias("rep_v"))
    prime = (f"element_at(array({_PRIMES}),"
             f" cast(((gy % {_T}) * {_T} + (gx % {_T})) % 11 + 1 as int))")
    return (per_px
            .withColumn("tx", F.expr(f"cast(floor(gx / {_T}) as bigint)"))
            .withColumn("ty", F.expr(f"cast(floor(gy / {_T}) as bigint)"))
            .groupBy("tx", "ty")
            .agg(F.expr(f"cast(sum(rep_v % {prime}) % 65536 as bigint)")
                 .alias("cs_touched"),
                 F.count("*").alias("n_touched"))
            .select(F.lit(RASTERIZE_Z).alias("z"), "tx", "ty",
                    "cs_touched", "n_touched"))


def rasterize_lines_at_oracle_sql(defs: list[dict]) -> str:
    """DuckDB twin for the ALL_TOUCHED line burn: same normalization,
    special cases and per-column row spans via generate_series."""
    mx = _MX.format(v="v")
    my = _MY.format(v="v")
    n = _NPX
    yk_in = ("(ay + (greatest(ax, cast(k as double)) - ax)"
             " * (by - ay) / (bx - ax))")
    yk_out = ("(ay + (least(bx, cast(k + 1 as double)) - ax)"
              " * (by - ay) / (bx - ax))")
    prime = (f"([{_PRIMES}])"
             f"[cast(((gy % {_T}) * {_T} + (gx % {_T})) % 11 + 1 as int)]")
    return f"""
with m as (
  select zone_id, eas_id, ring_idx,
         list_transform(lons, v -> {mx}) as mxs,
         list_transform(lats, v -> {my}) as mys
  from {_rings_values(defs)}
),
segs0 as (
  select zone_id, eas_id,
         (mxs[j + 1] - {_fmt(X0)}) / {_fmt(RES)} as px0,
         ({_fmt(Y0)} - mys[j + 1]) / {_fmt(RES)} as py0,
         (mxs[j + 2] - {_fmt(X0)}) / {_fmt(RES)} as px1,
         ({_fmt(Y0)} - mys[j + 2]) / {_fmt(RES)} as py1
  from m, unnest(generate_series(0, len(mxs) - 2)) as t(j)
),
segs as (
  select zone_id, eas_id,
         case when px0 > px1 then px1 else px0 end as ax,
         case when px0 > px1 then py1 else py0 end as ay,
         case when px0 > px1 then px0 else px1 end as bx,
         case when px0 > px1 then py0 else py1 end as by,
         abs((case when px0 > px1 then px1 else px0 end)
           - (case when px0 > px1 then px0 else px1 end)) < 0.01 as vert,
         abs((case when px0 > px1 then py1 else py0 end)
           - (case when px0 > px1 then py0 else py1 end)) < 0.01 as horiz
  from segs0
  where not ((py0 < 0.0 and py1 < 0.0) or (py0 > {n} and py1 > {n})
         or (px0 < 0.0 and px1 < 0.0) or (px0 > {n} and px1 > {n}))
),
vpix as (
  select zone_id, eas_id, cast(floor(bx) as bigint) as gx, r as gy
  from segs, unnest(generate_series(
    greatest(cast(floor(least(ay, by)) as bigint), 0),
    least(cast(floor(greatest(ay, by) - 0.0001) as bigint), {n - 1})
  )) as t(r)
  where vert and cast(floor(bx) as bigint) >= 0
    and cast(floor(bx) as bigint) < {n}
),
hpix as (
  select zone_id, eas_id, c as gx, cast(floor(ay) as bigint) as gy
  from segs, unnest(generate_series(
    greatest(cast(floor(ax) as bigint), 0),
    least(cast(floor(bx - 0.0001) as bigint), {n - 1})
  )) as t(c)
  where (not vert) and horiz and cast(floor(ay) as bigint) >= 0
    and cast(floor(ay) as bigint) < {n}
),
gcols as (
  select zone_id, eas_id, ax, ay, bx, by, k
  from segs, unnest(generate_series(
    greatest(cast(floor(greatest(ax, 0.0)) as bigint), 0),
    least(cast(ceil(least(bx, {float(n)})) as bigint) - 1, {n - 1})
  )) as t(k)
  where (not vert) and (not horiz)
    and greatest(ax, cast(k as double)) < least(bx, cast(k + 1 as double))
),
gpix as (
  select zone_id, eas_id, k as gx, r as gy
  from gcols, unnest(generate_series(
    greatest(least(cast(floor({yk_in}) as bigint),
                   cast(floor({yk_out}) as bigint)), 0),
    least(greatest(cast(floor({yk_in}) as bigint),
                   cast(floor({yk_out}) as bigint)), {n - 1})
  )) as t(r)
),
pix as (
  select * from vpix union all select * from hpix
  union all select * from gpix
),
per_px as (
  select gx, gy, max_by(eas_id, zone_id) as rep_v
  from pix group by gx, gy
)
select {RASTERIZE_Z} as z,
       cast(floor(gx / {_T}) as bigint) as tx,
       cast(floor(gy / {_T}) as bigint) as ty,
       cast(sum(rep_v % {prime}) % 65536 as bigint) as cs_touched,
       count(*) as n_touched
from per_px group by tx, ty
"""
