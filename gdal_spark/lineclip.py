"""Line×polygon clipping: ogr2ogr -clipsrc for LineString layers.

Replicates the per-feature clip semantics of apps/ogr2ogr_lib.cpp:
6889-6936 for line inputs against convex clip polygons, including the
**dimension-drop rule** (:6917-6933): if the intersection of a line
segment with the polygon degenerates to a point (dimension < input
dimension), the result is dropped.

Algorithm: Cyrus–Beck parametric clipping, relational form. For segment
p0→p1 and a convex CCW polygon, each edge contributes a half-plane
constraint; with d = p1-p0 and inward normal n_e:

    denom = n·d     num = n·(e0 - p0)      t = num/denom
    denom > 0 → entering (t lower bound), denom < 0 → leaving (upper),
    denom = 0 ∧ num > 0 → segment fully outside this half-plane.

The clip parameter interval is [max(0, max entering t),
min(1, min leaving t)] — **plain MAX/MIN aggregates**, which are
order-independent over IEEE doubles, so Spark and the DuckDB oracle
agree bit-for-bit without ordered folds. Keep iff t1 > t0 (strict:
t1 == t0 is the degenerate point → dimension-drop).

Line fixture: site trajectories — consecutive geotagged pages of the
same site (url hash bucket) ordered by doc_id form the segments; shared
SQL in both engines.
"""

from __future__ import annotations

import numpy as np

from gdal_spark import geom as G
from gdal_spark.cells import _lit
from gdal_spark.pages import points_oracle_sql, read_documents

SPARK = "spark"
DUCKDB = "duckdb"


def ccw_edge_values_sql(defs: list[dict]) -> str:
    """VALUES rows (zone_id, ex, ey, nx, ny): edge origin + inward
    normal of every CCW-normalized convex zone edge."""
    vals = []
    for z in defs:
        if len(z["rings"]) != 1:
            continue
        ring = z["rings"][0]
        if G.ring_area(ring) < 0:
            ring = ring[::-1]
        if not _convex(ring):
            continue
        for i in range(len(ring) - 1):
            ex, ey = ring[i]
            dx, dy = ring[i + 1] - ring[i]
            # inward normal of a CCW edge = left normal (-dy, dx)
            vals.append(f"({z['zone_id']}, {_lit(ex)}, {_lit(ey)},"
                        f" {_lit(-dy)}, {_lit(dx)})")
    return "(values " + ", ".join(vals) + ") as ce(zone_id, ex, ey, nx, ny)"


def _convex(ring: np.ndarray) -> bool:
    r = ring[:-1]
    n = len(r)
    for i in range(n):
        p, q, s = r[i], r[(i + 1) % n], r[(i + 2) % n]
        if (q[0] - p[0]) * (s[1] - q[1]) - (q[1] - p[1]) * (s[0] - q[0]) < 0:
            return False
    return True


def segments_sql(engine: str) -> str:
    """Site trajectories: consecutive geotagged points of the same site
    bucket (doc_id % 50) by doc_id order → segments. Same SQL text in
    both dialects."""
    _ = engine
    pts = points_oracle_sql()
    return f"""
select site, seg_id, x0, y0, x1, y1 from (
  select (doc_id % 50) as site, doc_id as seg_id,
         cast(lon as double) as x0, cast(lat as double) as y0,
         lead(cast(lon as double))
           over (partition by doc_id % 50 order by doc_id) as x1,
         lead(cast(lat as double))
           over (partition by doc_id % 50 order by doc_id) as y1
  from ({pts}) p
) s where x1 is not null
"""


def clip_lines_sql(defs: list[dict], engine: str) -> str:
    """Full clip query: (seg_id, zone_id, t0, t1, clip_len) per segment ×
    zone with a non-degenerate intersection."""
    edges = ccw_edge_values_sql(defs)
    return f"""
with seg as ({segments_sql(engine)}),
c as (
  select seg.seg_id, ce.zone_id, seg.x0, seg.y0, seg.x1, seg.y1,
         ce.nx * (seg.x1 - seg.x0) + ce.ny * (seg.y1 - seg.y0) as denom,
         ce.nx * (ce.ex - seg.x0) + ce.ny * (ce.ey - seg.y0) as num
  from seg cross join {edges}
),
bounds as (
  select seg_id, zone_id,
         greatest(cast(0 as double),
                  max(case when denom > 0 then num / denom end)) as t0,
         least(cast(1 as double),
               min(case when denom < 0 then num / denom end)) as t1,
         max(case when denom = 0 and num > 0 then 1 else 0 end)
           as rejected,
         max(x1 - x0) as dx, max(y1 - y0) as dy
  from c group by seg_id, zone_id
),
kept as (
  select seg_id, zone_id, t0, t1,
         sqrt(dx * dx + dy * dy) * (t1 - t0) as clip_len
  from bounds
  where rejected = 0 and t1 > t0
)
select seg_id, zone_id, round(t0, 9) as t0, round(t1, 9) as t1,
       round(clip_len, 9) as clip_len
from kept
"""


def clip_lines(spark, sf_dir: str, defs: list[dict]):
    read_documents(spark, sf_dir).createOrReplaceTempView("documents")
    return spark.sql(clip_lines_sql(defs, SPARK))


def clip_segment_np(p0, p1, ring: np.ndarray):
    """Independent numpy Cyrus–Beck (test oracle): returns (t0, t1) or
    None when the clipped piece is empty or degenerate."""
    if G.ring_area(ring) < 0:
        ring = ring[::-1]
    d = np.asarray(p1, dtype=float) - np.asarray(p0, dtype=float)
    t0, t1 = 0.0, 1.0
    for i in range(len(ring) - 1):
        e = ring[i]
        edge = ring[i + 1] - ring[i]
        n = np.array([-edge[1], edge[0]])
        denom = float(n @ d)
        num = float(n @ (e - np.asarray(p0, dtype=float)))
        if denom == 0.0:
            if num > 0.0:
                return None
            continue
        t = num / denom
        if denom > 0:
            t0 = max(t0, t)
        else:
            t1 = min(t1, t)
    if t1 > t0:
        return (t0, t1)
    return None
