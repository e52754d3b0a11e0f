"""Gridding: points → raster interpolation (alg/gdalgrid.cpp).

Implements GDAL's radius-limited inverse-distance-to-a-power
interpolation (GDALGridInverseDistanceToAPower, alg/gdalgrid.cpp:109;
quadtree-accelerated neighbor search :260-276) as relational algebra:
pixel grid ⋈ candidate points → per-pixel IDW.

Candidate generation is a **k-ring cell prejoin**, the distributed
restatement of the reference's quadtree search: points and pixel centers
are keyed to square cells of edge = search RADIUS, every pixel probes its
3×3 cell ring, and candidates come from an equi-join on the cell key
followed by the exact d² ≤ r² filter. Any point within RADIUS of a pixel
center differs by ≤1 in each cell index (cell edge = RADIUS), so the
prejoin is lossless; the plan contains no cartesian/nested-loop join and
the join fan-in per pixel is bounded by local point density — the shape
that survives a 10^12-point table. (A plain cross join + radius filter,
the round-1 shape, is O(pixels × points).)

Bit-exactness stance: the per-pixel reduction is an **ordered fold**
over the candidate list sorted by doc_id (never an unordered SQL SUM of
doubles), and the cell keys are derived from identical SQL text in both
engines, so Spark and the DuckDB oracle produce identical IEEE doubles.
"""

from __future__ import annotations

from gdal_spark.cells import _lit, _sum_fold_sql
from gdal_spark.pages import points_oracle_sql, read_documents

SPARK = "spark"
DUCKDB = "duckdb"

# fixture grid over city-hotspot 0 (pages.synth_stages city centers)
GRID_LON0 = -176.2
GRID_LAT0 = -61.2
GRID_STEP = 0.06
GRID_N = 40
RADIUS = 0.15


def _grid_candidates(engine: str) -> str:
    """Shared CTE prelude ending in ``c(i, j, doc_id, v, d2)``: fixture
    pixel grid ⋈ points via the k-ring cell prejoin + exact radius test
    (the quadtree candidate search of alg/gdalgrid.cpp:260-276 restated
    as a pruned equi-join)."""
    pts = points_oracle_sql()
    r2 = _lit(RADIUS * RADIUS)
    pad = _lit(RADIUS)
    cell = _lit(RADIUS)
    lo_lon, lo_lat = _lit(GRID_LON0), _lit(GRID_LAT0)
    hi_lon = _lit(GRID_LON0 + GRID_N * GRID_STEP)
    hi_lat = _lit(GRID_LAT0 + GRID_N * GRID_STEP)
    if engine == SPARK:
        # single range + div/mod: no CartesianProduct node in the plan
        grid = (f"select id div {GRID_N} as i, id % {GRID_N} as j"
                f" from range(0, {GRID_N * GRID_N})")
        ring_src = "select g.*, o from g lateral view explode(sequence(0, 8)) t as o"
        div3 = "(o div 3)"
    else:
        grid = (f"select range // {GRID_N} as i, range % {GRID_N} as j"
                f" from range(0, {GRID_N * GRID_N})")
        ring_src = "select g.*, unnest(range(0, 9)) as o from g"
        div3 = "(o // 3)"
    lon_c = f"({lo_lon} + (i + 0.5e0) * {_lit(GRID_STEP)})"
    lat_c = f"({lo_lat} + (j + 0.5e0) * {_lit(GRID_STEP)})"
    return f"""
p as (
  select doc_id, lon, lat, cast(doc_id % 97 as double) as v,
         cast(floor((lon - {lo_lon}) / {cell}) as bigint) as pcx,
         cast(floor((lat - {lo_lat}) / {cell}) as bigint) as pcy
  from ({pts}) q
  where lon >= {lo_lon} - {pad} and lon <= {hi_lon} + {pad}
    and lat >= {lo_lat} - {pad} and lat <= {hi_lat} + {pad}
),
g as (
  select i, j, {lon_c} as gx, {lat_c} as gy,
         cast(floor(({lon_c} - {lo_lon}) / {cell}) as bigint) as gcx,
         cast(floor(({lat_c} - {lo_lat}) / {cell}) as bigint) as gcy
  from ({grid}) g0
),
gk as (
  select i, j, gx, gy,
         gcx + (o % 3) - 1 as kx, gcy + {div3} - 1 as ky
  from ({ring_src}) r
),
c as (
  select gk.i, gk.j, p.doc_id, p.v,
         (p.lon - gk.gx) * (p.lon - gk.gx)
       + (p.lat - gk.gy) * (p.lat - gk.gy) as d2
  from gk join p on p.pcx = gk.kx and p.pcy = gk.ky
  where (p.lon - gk.gx) * (p.lon - gk.gx)
      + (p.lat - gk.gy) * (p.lat - gk.gy) <= {r2}
)"""


def grid_kernels_sql(engine: str) -> str:
    """The full gridding kernel suite in ONE keyed aggregation pass:
    IDW (GDALGridInverseDistanceToAPower), moving average
    (GDALGridMovingAverage), nearest neighbor (GDALGridNearestNeighbor),
    the data-metric kernels (GDALGridDataMetric*), and the proximity
    raster (alg/gdalproximity.cpp:94 — its output is exactly the
    (n_pts, min_dist) pair). All kernels share the same k-ring candidate
    join, so computing them together costs a single shuffle on (i, j)
    instead of five — the plan shape that matters at a 10^12-point
    table. Sums are ordered folds over the doc_id-sorted candidate list
    and the nearest neighbor breaks distance ties by doc_id (GDAL's
    quadtree visit order is an implementation detail, so the tie rule is
    pinned and shared by both engines): Spark and DuckDB give identical
    IEEE doubles."""
    if engine == SPARK:
        lst, srt, trn = "collect_list", "array_sort", "transform"

        # did (unique per candidate) leads the struct, so the sort order
        # is the doc_id order regardless of the trailing fields
        mk = ("struct(cast(doc_id as double) as did, v / d2 as num_t,"
              " 1.0 / d2 as den_t, v as vv)")
        pick = ("element_at(array_sort(collect_list("
                "struct(d2, doc_id, v))), 1)")
    else:
        lst, srt, trn = "list", "list_sort", "list_transform"
        mk = ("{'did': cast(doc_id as double), 'num_t': v / d2,"
              " 'den_t': 1.0 / d2, 'vv': v}")
        pick = ("list_extract(list_sort(list("
                "{'d2': d2, 'doc_id': doc_id, 'v': v})), 1)")
    num, den, vv = (_sum_fold_sql(f"{trn}(arr, a -> a.{f})", engine)
                    for f in ("num_t", "den_t", "vv"))
    return f"""
with {_grid_candidates(engine)},
packed as (
  select i, j, count(*) as n_pts,
         min(d2) as min_d2, max(d2) as max_d2,
         max(v) - min(v) as value_range,
         {srt}({lst}({mk})) as arr,
         {pick} as best
  from c group by i, j
)
select i, j, n_pts,
       {num}
     / {den} as idw_value,
       {vv} / n_pts as avg_value,
       best.doc_id as nn_doc_id, best.v as nn_value,
       sqrt(best.d2) as nn_dist,
       sqrt(min_d2) as min_dist, sqrt(max_d2) as max_dist, value_range
from packed
"""


def grid_kernels(spark, sf_dir: str):
    """Spark DataFrame of grid_kernels_sql over ``sf_dir``'s documents."""
    read_documents(spark, sf_dir).createOrReplaceTempView("documents")
    return spark.sql(grid_kernels_sql(SPARK))
