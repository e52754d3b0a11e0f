"""Vectorized planar geometry kernels (numpy; GEOS-free).

Implements the geometry operations the reference gets from GEOS
(ogr/ogrgeometry.cpp Intersects/Contains/Within/Centroid/Area/Distance) and
the staged spatial-filter semantics of OGRLayer::FilterGeometry
(ogr/ogrsf_frmts/generic/ogrlayer.cpp:2253-2325): cheap bbox reject →
rectangle-contains accept → exact point-in-polygon test.

Everything here is many-points-vs-one-polygon vectorized: the broadcast
side (zones) is small, the point side (pages) is the 10^12-row table, so
kernels take numpy arrays of points and loop only over polygon edges.
"""

from __future__ import annotations

import numpy as np


def ring_area(ring: np.ndarray) -> float:
    """Signed shoelace area of one closed ring (n,2)."""
    x = ring[:, 0]
    y = ring[:, 1]
    return 0.5 * float(np.sum(x[:-1] * y[1:] - x[1:] * y[:-1]))


def polygon_area(rings: list[np.ndarray]) -> float:
    """Planar area: |exterior| - sum(|holes|) (matches OGR_GEOM_AREA)."""
    if not rings:
        return 0.0
    area = abs(ring_area(rings[0]))
    for hole in rings[1:]:
        area -= abs(ring_area(hole))
    return area


def polygon_centroid(rings: list[np.ndarray]) -> tuple[float, float]:
    """Area-weighted centroid (holes subtract).

    Ring orientation is normalized: the exterior contributes +|area|, holes
    contribute -|area|, regardless of stored winding.
    """
    total_a = 0.0
    cx = 0.0
    cy = 0.0
    for i, ring in enumerate(rings):
        x = ring[:-1, 0]
        y = ring[:-1, 1]
        x1 = ring[1:, 0]
        y1 = ring[1:, 1]
        cross = x * y1 - x1 * y
        signed_a = 0.5 * float(np.sum(cross))
        if signed_a == 0.0:
            continue
        # flip so exterior is positive, holes negative
        want = 1.0 if i == 0 else -1.0
        flip = want * np.sign(signed_a)
        a = signed_a * flip
        cx += flip * float(np.sum((x + x1) * cross)) / 6.0
        cy += flip * float(np.sum((y + y1) * cross)) / 6.0
        total_a += a
    if total_a == 0.0:
        return float(rings[0][0, 0]), float(rings[0][0, 1])
    return cx / total_a, cy / total_a


def rings_bbox(rings: list[np.ndarray]) -> tuple[float, float, float, float]:
    ext = rings[0]
    return (
        float(ext[:, 0].min()),
        float(ext[:, 1].min()),
        float(ext[:, 0].max()),
        float(ext[:, 1].max()),
    )


def points_in_ring(px: np.ndarray, py: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Even-odd (ray casting) point-in-ring test, vectorized over points.

    Boundary behavior follows the half-open edge rule (points exactly on a
    horizontal edge may test either way — synthetic fixtures avoid exact
    boundary points; matches the practical behavior of GEOS Intersects for
    interior points).
    """
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    inside = np.zeros(px.shape, dtype=bool)
    x0 = ring[:-1, 0]
    y0 = ring[:-1, 1]
    x1 = ring[1:, 0]
    y1 = ring[1:, 1]
    for i in range(len(x0)):
        ax, ay, bx, by = x0[i], y0[i], x1[i], y1[i]
        cond = (ay > py) != (by > py)
        if not cond.any():
            continue
        xin = (bx - ax) * (py - ay) / (by - ay) + ax
        inside ^= cond & (px < xin)
    return inside


def points_in_polygon(px: np.ndarray, py: np.ndarray,
                      rings: list[np.ndarray]) -> np.ndarray:
    """Point-in-polygon with holes: in exterior and in no hole (even-odd)."""
    inside = points_in_ring(px, py, rings[0])
    for hole in rings[1:]:
        if inside.any():
            inside &= ~points_in_ring(px, py, hole)
    return inside


def point_segment_dist2(px, py, ax, ay, bx, by):
    """Squared distance from points (px,py) to segment (a,b), vectorized."""
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    dx = bx - ax
    dy = by - ay
    denom = dx * dx + dy * dy
    if denom == 0.0:
        return (px - ax) ** 2 + (py - ay) ** 2
    t = np.clip(((px - ax) * dx + (py - ay) * dy) / denom, 0.0, 1.0)
    cx = ax + t * dx
    cy = ay + t * dy
    return (px - cx) ** 2 + (py - cy) ** 2
