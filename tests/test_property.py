"""Property-based tests (hypothesis) over the geometry kernels and joins.

The reference test suite is golden-assertion style (SURVEY §5 — no
property testing); these add the invariants golden cases can't sweep:
serialization round-trips over arbitrary coordinates, hull/clip
containment, simplify monotonicity, and the exact kNN join against a
numpy brute force. The kernel tests are pure numpy/python; the HTML
and kNN tests use the Spark session with few, small examples.
"""

from __future__ import annotations

import math

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from gdal_spark import geom as G
from gdal_spark import wkb as W

coord = st.floats(min_value=-1e7, max_value=1e7,
                  allow_nan=False, allow_infinity=False)


def _close_ring(pts):
    arr = [list(p) for p in pts]
    arr.append(list(pts[0]))
    return np.asarray(arr, dtype=np.float64)


@settings(max_examples=100, deadline=None)
@given(st.lists(st.tuples(coord, coord), min_size=1, max_size=40))
def test_wkb_roundtrip_linestring(pts):
    arr = np.asarray(pts, dtype=np.float64)
    g = W.loads(W.dumps_linestring(arr))
    assert g["type"] == "LineString"
    assert np.array_equal(np.asarray(g["coords"]), arr)


@settings(max_examples=100, deadline=None)
@given(st.lists(st.tuples(coord, coord), min_size=3, max_size=20),
       st.lists(st.tuples(coord, coord), min_size=3, max_size=10))
def test_wkb_roundtrip_polygon_with_hole(outer, hole):
    rings = [_close_ring(outer), _close_ring(hole)]
    g = W.loads(W.dumps_polygon(rings))
    assert g["type"] == "Polygon" and len(g["coords"]) == 2
    for got, want in zip(g["coords"], rings):
        assert np.array_equal(np.asarray(got), want)


@settings(max_examples=100, deadline=None)
@given(st.tuples(coord, coord))
def test_wkb_point_roundtrip_bit_exact(p):
    x, y = p
    g = W.loads(W.dumps_point(x, y))
    # bit-exact round trip, including signed zeros
    assert math.copysign(1.0, g["coords"][0]) == math.copysign(1.0, x)
    assert g["coords"] == (x, y)


@settings(max_examples=100, deadline=None)
@given(st.lists(st.tuples(coord, coord), min_size=1, max_size=15))
def test_wkt_roundtrip_linestring(pts):
    arr = np.asarray(pts, dtype=np.float64)
    text = W.wkt_dumps({"type": "LineString", "coords": arr})
    g = W.wkt_loads(text)
    assert g["type"] == "LineString"
    # repr round-trip: shortest-repr floats parse back exactly
    assert np.array_equal(np.asarray(g["coords"]), arr)


@settings(max_examples=100, deadline=None)
@given(st.lists(st.tuples(coord, coord), min_size=3, max_size=60))
def test_convex_hull_contains_all_points(pts):
    from gdal_spark.constructive import convex_hull_pts

    arr = np.asarray(pts, dtype=np.float64)
    hull = convex_hull_pts(arr)
    assert len(hull) >= 1
    if len(hull) < 3:
        return  # degenerate (collinear/duplicate) input
    # every input point is inside or on the hull: all cross products of
    # (edge, point) are >= -eps for a CCW hull
    closed = np.vstack([hull, hull[:1]])
    e = np.diff(closed, axis=0)
    scale = max(1.0, float(np.abs(arr).max())) ** 2
    for p in arr:
        v = p[None, :] - closed[:-1]
        cross = e[:, 0] * v[:, 1] - e[:, 1] * v[:, 0]
        assert (cross >= -1e-9 * scale).all()


@settings(max_examples=60, deadline=None)
@given(st.lists(st.tuples(coord, coord), min_size=4, max_size=30),
       st.floats(min_value=1e-6, max_value=1e6, allow_nan=False))
def test_simplify_keeps_endpoints_and_shrinks(pts, tol):
    from gdal_spark.constructive import simplify_ring

    ring = _close_ring(pts)
    out = simplify_ring(ring, tol)
    # closed, endpoints preserved, never more vertices than input
    assert np.array_equal(out[0], ring[0])
    assert np.array_equal(out[-1], ring[-1])
    assert len(out) <= len(ring)
    # idempotent at the same tolerance
    again = simplify_ring(out, tol)
    assert len(again) == len(out)


@settings(max_examples=100, deadline=None)
@given(st.lists(st.tuples(st.floats(-100, 100), st.floats(-100, 100)),
                min_size=3, max_size=12),
       st.tuples(st.floats(-120, 120), st.floats(-120, 120)))
def test_pip_matches_independent_crossing_count(pts, q):
    """points_in_ring parity must equal a from-scratch crossing count."""
    ring = _close_ring(pts)
    qx, qy = q
    got = bool(G.points_in_ring(
        np.asarray([qx]), np.asarray([qy]), ring)[0])
    c = 0
    for i in range(len(ring) - 1):
        (x0, y0), (x1, y1) = ring[i], ring[i + 1]
        if (y0 > qy) != (y1 > qy) \
                and qx < (x1 - x0) * (qy - y0) / (y1 - y0) + x0:
            c += 1
    assert got == (c % 2 == 1)


# Adversarial page text for the HTML round-trip: printable ASCII plus
# the exact sequences that could break a naive extractor — literal
# tags, entity spellings, the raw escape characters, newlines.
_html_hostile = st.lists(
    st.sampled_from(
        list("abcdefghij <>&;/\"'=\n") + ["</p>", "<script>", "&amp;",
                                          "&lt;", "<!--", "-->"]),
    min_size=0, max_size=120,
).map("".join)


@settings(max_examples=60, deadline=None)
@given(_html_hostile)
def test_html_extract_roundtrip_hostile_text(spark, text):
    """crawl_html_extract's byte-identical invariant holds for text
    containing literal tags, comment markers, entity spellings and raw
    '&<>' — the escape/strip/unescape pipeline must be exactly
    inverse regardless of content."""
    import gdal_spark.textops as textops

    spark.createDataFrame(
        [(1, text, "en")], "doc_id long, text string, lang string") \
        .createOrReplaceTempView("documents")
    r = spark.sql(textops.html_extract_sql(
        textops.SPARK)).collect()[0]
    assert r.byte_identical, repr(text)


_lonlat = st.tuples(st.floats(-180, 180), st.floats(-90, 90))


def _dist_tol(d):
    """Distance tolerance between the JVM and numpy haversines: 1e-6 m,
    plus the ill-conditioning of asin(sqrt(h)) near antipodes, where a
    last-bit difference of h (libm sin/cos differ by an ulp) moves the
    distance by ~a·ulp/sqrt(1-h) — up to ~0.2 m when 1-h ≈ ulp."""
    from gdal_spark.crs import WGS84_A

    eps = np.finfo(np.float64).eps
    one_minus_h = np.cos(np.asarray(d) / (2.0 * WGS84_A)) ** 2
    return 1e-6 + WGS84_A * 4 * eps / np.sqrt(np.maximum(one_minus_h, eps))


@settings(max_examples=25, deadline=None)
@given(st.lists(_lonlat, min_size=1, max_size=12),
       st.lists(_lonlat, min_size=1, max_size=4),
       st.integers(1, 6), st.integers(0, 10))
def test_knn_matches_numpy_bruteforce(spark, pts, qs, k, z0):
    """knn_join ≡ a numpy brute force (lexsort by distance, then id) for
    any points on the sphere — poles, antimeridian, duplicates, fewer
    points than k — and any start zoom."""
    import pandas as pd

    from gdal_spark.crs import haversine_m
    from gdal_spark.knn import knn_join

    p = np.asarray(pts, dtype=np.float64)
    q = np.asarray(qs, dtype=np.float64)
    pdf = spark.createDataFrame(pd.DataFrame(
        {"doc_id": np.arange(len(p)), "lon": p[:, 0], "lat": p[:, 1]}))
    qdf = spark.createDataFrame(pd.DataFrame(
        {"qid": np.arange(len(q)), "lon": q[:, 0], "lat": q[:, 1]}))
    got = knn_join(pdf, qdf, k=k, z0=z0).toPandas()
    m = min(k, len(p))
    for qi in range(len(q)):
        d = haversine_m(q[qi, 0], q[qi, 1], p[:, 0], p[:, 1])
        order = np.lexsort((np.arange(len(p)), d))
        ds = d[order]
        tol = _dist_tol(ds)
        mine = got[got.qid == qi].sort_values("rank")
        assert mine["rank"].tolist() == list(range(1, m + 1)), (qi, mine)
        assert np.all(np.abs(mine.dist_m.to_numpy() - ds[:m]) <= tol[:m]), (
            qi, mine.dist_m.tolist(), ds[:m].tolist())
        gaps = np.diff(ds) > tol[1:]  # gaps[i]: ds[i] < ds[i+1] for sure
        for i in range(m):
            if (i == 0 or gaps[i - 1]) and (i == len(p) - 1 or gaps[i]):
                assert mine.doc_id.iloc[i] == order[i], (qi, i, mine, order)
