"""Broadcast R-tree point-in-polygon join — the engine's core spatial join.

Semantics: OGR layer-algebra Clip/Intersection for a point input layer
(ogr/ogrsf_frmts/generic/ogrlayer.cpp:5497 Clip, :3345 Intersection) and the
ogr2ogr -clipsrc per-feature rule (apps/ogr2ogr_lib.cpp:6889-6936): a point
is kept iff it lies inside the clip geometry; for points the dimension-drop
rule reduces to strict containment (a point's intersection is either itself
— dimension preserved — or empty).

Execution model (Spark-first, NOT the reference's per-feature nested loop):
- the polygon layer is small → collected once, packed into an STR R-tree,
  and **broadcast** to executors (torch-passing of GDAL's driver-level
  spatial indexes: FlatGeobuf packed R-tree, GPKG R-tree);
- the point side is the 10^12-row table → one **narrow** Arrow scalar UDF
  over (lon, lat) only, no shuffle at all. Each Arrow batch runs: R-tree
  bbox candidates → exact even-odd PIP (the staged bbox→exact filter of
  ogrlayer.cpp:2253-2325) → the array of containing zone ids per point.
  Every other column of the point table stays in the JVM, so the bytes
  crossing the Python bridge do not grow with the row width.
- modes: 'inner' (1 row per (point, zone) containment pair — Intersection),
  'semi' (point kept once if inside any zone — Clip), 'anti' (point kept if
  inside none — Erase, ogrlayer.cpp:5806).

At 100 TB this is the right plan: the only shuffle in the whole pipeline is
whatever aggregation follows. AQE/skew settings never see the hot cells
because the join itself is embarrassingly parallel.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType

from gdal_spark import geom as G
from gdal_spark.strtree import STRtree


class ZoneIndex:
    """Driver-built, broadcastable polygon index: STR R-tree over zone
    bboxes + per-zone ring arrays for the exact test."""

    def __init__(self, zone_ids: list[int], rings_list: list[list[np.ndarray]]):
        self.zone_ids = np.asarray(zone_ids, dtype=np.int64)
        self.rings_list = rings_list
        boxes = np.asarray([G.rings_bbox(r) for r in rings_list],
                           dtype=np.float64).reshape(-1, 4)
        self.tree = STRtree(boxes)

    def match_points(self, px: np.ndarray, py: np.ndarray):
        """(point_idx, zone_idx) exact containment pairs for a batch."""
        pt, zi = self.tree.query_points(px, py)
        if len(pt) == 0:
            return pt, zi
        keep = np.zeros(len(pt), dtype=bool)
        # group candidate pairs by zone; vectorized PIP per zone
        order = np.argsort(zi, kind="stable")
        pt = pt[order]
        zi = zi[order]
        bounds = np.flatnonzero(np.diff(zi)) + 1
        for seg in np.split(np.arange(len(zi)), bounds):
            if len(seg) == 0:
                continue
            z = zi[seg[0]]
            rows = pt[seg]
            keep[seg] = G.points_in_polygon(px[rows], py[rows],
                                            self.rings_list[z])
        return pt[keep], zi[keep]


def build_zone_index_from_defs(defs: list[dict]) -> ZoneIndex:
    return ZoneIndex([z["zone_id"] for z in defs], [z["rings"] for z in defs])


def pip_join(points: DataFrame, index: ZoneIndex, lon: str = "lon",
             lat: str = "lat", how: str = "inner",
             zone_col: str = "zone_id") -> DataFrame:
    """Join a point DataFrame to the broadcast zone index.

    inner → output = input columns + zone_col (one row per containment)
    semi  → input rows inside ≥1 zone (deduplicated)
    anti  → input rows inside no zone
    """
    if how not in ("inner", "semi", "anti"):
        raise ValueError(how)
    bc = points.sparkSession.sparkContext.broadcast(index)

    def zone_ids(px: pd.Series, py: pd.Series) -> pd.Series:
        """Per point, the ids of the zones that contain it (maybe none)."""
        idx = bc.value
        pt, zi = idx.match_points(px.to_numpy(dtype=np.float64),
                                  py.to_numpy(dtype=np.float64))
        order = np.argsort(pt, kind="stable")
        zones = idx.zone_ids[zi[order]]
        bounds = np.searchsorted(pt[order], np.arange(len(px) + 1))
        return pd.Series([zones[a:b] for a, b in zip(bounds[:-1], bounds[1:])],
                         dtype=object)

    # asNondeterministic is a planning marker (the kernel is pure), as in
    # extract.geocode_pages: without it Catalyst pushes the semi/anti
    # filter below the projections that compute lon and lat, so their
    # expressions are evaluated twice, for the UDF and for the output.
    zs = F.pandas_udf(zone_ids, ArrayType(LongType())).asNondeterministic()(
        F.col(lon), F.col(lat))
    if how == "inner":
        return points.select("*", F.explode(zs).alias(zone_col))
    tagged = points.withColumn("_zs", zs)
    if how == "semi":
        return tagged.filter(F.size("_zs") > 0).drop("_zs")
    return tagged.filter(F.size("_zs") == 0).drop("_zs")
