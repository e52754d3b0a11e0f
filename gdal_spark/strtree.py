"""Packed STR R-tree over geometry bounding boxes (pure numpy).

The broadcast-side spatial index of the PIP join — the Spark analogue of the
driver-level spatial indexes GDAL consults before exact GEOS tests
(FlatGeobuf's packed Hilbert R-tree, ogr/ogrsf_frmts/flatgeobuf/
packedrtree.h:113; shapefile .qix quadtree; GPKG R-tree). Built once on the
driver from the small polygon layer, broadcast to executors, queried inside
Arrow-batched UDFs with many points per call.

Construction is Sort-Tile-Recursive (Leutenegger et al. 1997): sort leaf
boxes by x into vertical slices, sort each slice by y, pack NODE_CAP boxes
per node, repeat upward. A query returns (point, item) candidate pairs whose
item box contains the point; the caller applies the exact predicate — the
same bbox-first / exact-second staging as OGRLayer::FilterGeometry
(ogr/ogrsf_frmts/generic/ogrlayer.cpp:2253-2325).
"""

from __future__ import annotations

import math

import numpy as np

NODE_CAP = 16


class STRtree:
    def __init__(self, boxes: np.ndarray):
        """boxes: (n, 4) float64 [minx, miny, maxx, maxy]."""
        boxes = np.asarray(boxes, dtype=np.float64).reshape(-1, 4)
        self.n_items = len(boxes)
        if self.n_items == 0:
            self.levels: list[np.ndarray] = [np.empty((0, 4))]
            self.order = np.empty(0, dtype=np.int64)
            return

        # STR packing of leaf order
        n = self.n_items
        n_nodes = math.ceil(n / NODE_CAP)
        n_slices = math.ceil(math.sqrt(n_nodes))
        cx = (boxes[:, 0] + boxes[:, 2]) * 0.5
        cy = (boxes[:, 1] + boxes[:, 3]) * 0.5
        by_x = np.argsort(cx, kind="stable")
        slice_size = math.ceil(n / n_slices)
        order = np.empty(n, dtype=np.int64)
        pos = 0
        for s in range(n_slices):
            chunk = by_x[s * slice_size:(s + 1) * slice_size]
            chunk = chunk[np.argsort(cy[chunk], kind="stable")]
            order[pos:pos + len(chunk)] = chunk
            pos += len(chunk)
        self.order = order  # leaf slot -> original item index

        # build levels bottom-up: levels[0] = leaf boxes in packed order
        self.levels = [boxes[order]]
        while len(self.levels[-1]) > 1:
            child = self.levels[-1]
            m = math.ceil(len(child) / NODE_CAP)
            parent = np.empty((m, 4), dtype=np.float64)
            starts = np.arange(m) * NODE_CAP
            for i in range(m):
                seg = child[starts[i]:starts[i] + NODE_CAP]
                parent[i, 0] = seg[:, 0].min()
                parent[i, 1] = seg[:, 1].min()
                parent[i, 2] = seg[:, 2].max()
                parent[i, 3] = seg[:, 3].max()
            self.levels.append(parent)

    def query_points(self, px: np.ndarray, py: np.ndarray):
        """Bulk candidate generation for a batch of points.

        Returns (point_idx, item_idx) pairs where point's coordinate falls
        inside the item's bbox — the coarse stage; caller runs exact PIP.
        Vectorized level descent: a frontier of (point, node) pairs.
        """
        px = np.asarray(px, dtype=np.float64)
        py = np.asarray(py, dtype=np.float64)
        npts = len(px)
        if self.n_items == 0 or npts == 0:
            return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)
        top = len(self.levels) - 1
        pt = np.repeat(np.arange(npts, dtype=np.int64), len(self.levels[top]))
        nd = np.tile(np.arange(len(self.levels[top]), dtype=np.int64), npts)
        for level in range(top, -1, -1):
            b = self.levels[level][nd]
            hit = (
                (b[:, 0] <= px[pt]) & (b[:, 2] >= px[pt])
                & (b[:, 1] <= py[pt]) & (b[:, 3] >= py[pt])
            )
            pt = pt[hit]
            nd = nd[hit]
            if len(pt) == 0:
                return (np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64))
            if level > 0:
                child_count = len(self.levels[level - 1])
                pt = np.repeat(pt, NODE_CAP)
                nd = (nd[:, None] * NODE_CAP + np.arange(NODE_CAP)[None, :]).ravel()
                keep = nd < child_count
                pt = pt[keep]
                nd = nd[keep]
        return pt, self.order[nd]
