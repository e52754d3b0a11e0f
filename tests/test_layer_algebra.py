"""Polygon×polygon layer algebra: convex overlay vs Sutherland–Hodgman.

Golden style per SURVEY §5 (ogr_layer_algebra.py analogues): the
relational candidate-vertex overlay must agree with the independent
numpy clip, and the inclusion–exclusion identities must hold.
"""

from __future__ import annotations

import numpy as np
import pytest

from gdal_spark import geom as G
from gdal_spark.layer_algebra import (clip_convex_np, overlay_areas,
                                      shift_defs)
from gdal_spark.zones import zone_defs


@pytest.fixture(scope="module")
def overlay(spark):
    defs = zone_defs()
    return (defs, shift_defs(defs),
            overlay_areas(spark, defs, shift_defs(defs))
            .toPandas())


def test_overlay_matches_sutherland_hodgman(overlay):
    da, db, res = overlay
    assert len(res) >= 10
    for _, r in res.iterrows():
        ra = next(z for z in da if z["zone_id"] == r["zone_a"])["rings"][0]
        rb = next(z for z in db if z["zone_id"] == r["zone_b"])["rings"][0]
        clip = clip_convex_np(ra, rb)
        sh = abs(G.ring_area(clip)) if len(clip) else 0.0
        assert abs(sh - r["inter_area"]) < 1e-12, (r["zone_a"], r["zone_b"])


def test_overlay_inclusion_exclusion(overlay):
    da, db, res = overlay
    for _, r in res.iterrows():
        aa = next(z for z in da if z["zone_id"] == r["zone_a"])
        ab = next(z for z in db if z["zone_id"] == r["zone_b"])
        a_area = G.polygon_area(aa["rings"])
        b_area = G.polygon_area(ab["rings"])
        assert r["union_area"] == a_area + b_area - r["inter_area"]
        assert r["symdiff_area"] == a_area + b_area - 2 * r["inter_area"]
        assert r["erase_a_area"] == a_area - r["inter_area"]
        assert r["inter_area"] <= min(a_area, b_area) + 1e-12


def test_clip_convex_np_identities():
    sq = np.array([[0, 0], [4, 0], [4, 4], [0, 4], [0, 0]], dtype=float)
    tri = np.array([[2, 2], [6, 2], [2, 6], [2, 2]], dtype=float)
    out = clip_convex_np(tri, sq)
    # triangle ∩ square = the full [2,4]² corner (hypotenuse x+y=8 grazes
    # the corner at (4,4)) → area 4
    assert abs(abs(G.ring_area(out)) - 4.0) < 1e-12
    # clip fully inside → unchanged area
    small = np.array([[1, 1], [2, 1], [2, 2], [1, 2], [1, 1]], dtype=float)
    assert abs(abs(G.ring_area(clip_convex_np(small, sq))) - 1.0) < 1e-12
    # disjoint → empty
    far = small + 10.0
    assert len(clip_convex_np(far, sq)) == 0


def test_identity_update_against_numpy(spark):
    """Identity/Update accounting (ogrlayer.cpp:4730/:5148): pieces must
    match per-pair Sutherland–Hodgman areas; pieces + remainder = area_a;
    remainder = input − union(method) for the disjoint method layer."""
    from gdal_spark.layer_algebra import (disjoint_method_defs,
                                          identity_update)

    defs = zone_defs()
    method = disjoint_method_defs(shift_defs(defs))
    assert 1 <= len(method) < len(defs) + 1
    res = identity_update(spark, defs, method).toPandas()
    assert len(res) >= 5
    for _, r in res.iterrows():
        za = next(z for z in defs if z["zone_id"] == r["zone_a"])
        ra = za["rings"][0]
        pieces = 0.0
        n_pieces = 0
        for m in method:
            clip = clip_convex_np(ra, m["rings"][0])
            a = abs(G.ring_area(clip)) if len(clip) else 0.0
            if a > 0:
                pieces += a
                n_pieces += 1
        assert abs(pieces - r["pieces_area"]) < 1e-10
        assert r["n_pieces"] == n_pieces
        assert abs(r["pieces_area"] + r["remainder_area"]
                   - r["area_a"]) < 1e-12
        assert abs(r["area_a"] - G.polygon_area(za["rings"])) < 1e-12


def test_disjoint_method_defs_are_disjoint():
    from gdal_spark.layer_algebra import disjoint_method_defs

    method = disjoint_method_defs(shift_defs(zone_defs()))
    for i, a in enumerate(method):
        for b in method[i + 1:]:
            ba, bb = G.rings_bbox(a["rings"]), G.rings_bbox(b["rings"])
            assert not (ba[0] <= bb[2] and bb[0] <= ba[2]
                        and ba[1] <= bb[3] and bb[1] <= ba[3])


def test_trapezoid_decomposition_invariants():
    """Trap areas sum to the polygon area (non-convex star and holed ring
    included) and every trapezoid is convex."""
    import numpy as np

    from gdal_spark import geom as G
    from gdal_spark.layer_algebra import _is_convex
    from gdal_spark.overlay_features import trapezoid_decompose
    from gdal_spark.zones import zone_defs

    for z in zone_defs():
        traps = trapezoid_decompose(z["rings"])
        total = sum(abs(G.ring_area(t)) for t in traps)
        assert abs(total - G.polygon_area(z["rings"])) < 1e-9, z["zone_id"]
        for t in traps:
            assert _is_convex([t])
        # interior-disjoint: pairwise intersection areas ≈ 0
        from gdal_spark.layer_algebra import clip_convex_np
        for i in range(len(traps)):
            for j in range(i + 1, len(traps)):
                o = clip_convex_np(traps[i], traps[j])
                if len(o) >= 4:
                    assert abs(G.ring_area(o)) < 1e-12


def test_nonconvex_intersection_features(spark):
    """Feature output: every piece lies within both the input and the
    method polygon (exact predicate check), piece areas reconcile with
    the shared-SQL aggregate, attributes carry the input_/method_
    prefixes."""
    import numpy as np

    from gdal_spark import geom as G
    from gdal_spark import wkb as W
    from gdal_spark.layer_algebra import shift_defs
    from gdal_spark.overlay_features import (intersection_agg,
                                             intersection_features)
    from gdal_spark.predicates import pair_predicates
    from gdal_spark.zones import zone_defs

    defs = zone_defs()
    method = shift_defs(defs)
    by_a = {z["zone_id"]: z for z in defs}
    by_b = {z["zone_id"]: z for z in method}
    feats = intersection_features(spark, defs, method).toPandas()
    agg = intersection_agg(spark, defs, method).toPandas().set_index(
        ["zone_a", "zone_b"])
    assert set(feats.columns) >= {"input_zone", "input_eas_id",
                                  "method_zone", "method_eas_id"}
    assert len(feats) == len(agg)
    checked_within = 0
    for _, r in feats.iterrows():
        g = W.loads(bytes(r["geom"]))
        assert g["type"] == "MultiPolygon"
        area = sum(abs(G.ring_area(np.asarray(poly[0])))
                   for poly in g["coords"])
        want = agg.loc[(r["input_zone"], r["method_zone"])]
        assert r["n_pieces"] == want["n_pieces"]
        assert abs(area - want["inter_area"]) < 1e-9
        # exact containment of each piece in both inputs (probe-snapped
        # to the 6-decimal grid the predicate kernel requires)
        for poly in g["coords"][:3]:
            ring = [np.round(np.asarray(poly[0]), 6)]
            if abs(G.ring_area(ring[0])) < 1e-8:
                continue  # snap can collapse slivers
            pa = pair_predicates(ring, by_a[r["input_zone"]]["rings"])
            pb = pair_predicates(ring, by_b[r["method_zone"]]["rings"])
            if pa["within"] and pb["within"]:
                checked_within += 1
    assert checked_within >= 10


def test_erase_features_geometry_and_area(spark):
    """Erase with geometry output: per input polygon the leftover traps
    must (a) sum to area(A) - sum of A∩B areas (independent
    numpy-computed), (b) decode as closed rings whose sample interior
    points are inside A and outside every method polygon."""
    from gdal_spark import geom as G
    from gdal_spark import wkb as W
    from gdal_spark.constructive import boolean_pair
    from gdal_spark.layer_algebra import disjoint_method_defs, shift_defs
    from gdal_spark.overlay_features import erase_features
    from gdal_spark.zones import zone_defs

    defs = zone_defs()
    method = disjoint_method_defs(shift_defs(defs))
    out = {r["input_zone"]: r
           for r in erase_features(spark, defs, method).collect()}
    assert set(out) == {z["zone_id"] for z in defs}

    for z in defs:
        r = out[z["zone_id"]]
        # independent expected area: numpy boolean_pair per (A, each B)
        a_area = G.polygon_area(z["rings"])
        inter = 0.0
        for m in method:
            traps = boolean_pair(z["rings"], m["rings"], "intersection")
            inter += sum(abs(G.ring_area(t)) for t in traps)
        assert r["erased_area"] == pytest.approx(a_area - inter,
                                                 abs=1e-9)
        g = W.loads(bytes(r["geom"]))
        assert g["type"] == "MultiPolygon"
        assert len(g["coords"]) == r["n_pieces"]
        for poly in g["coords"]:
            ring = np.asarray(poly[0], dtype=np.float64)
            assert np.array_equal(ring[0], ring[-1])
            cx = ring[:-1, 0].mean()
            cy = ring[:-1, 1].mean()  # trap centroid: inside (convex)
            ins_a = bool(G.points_in_ring(
                np.asarray([cx]), np.asarray([cy]),
                np.asarray(z["rings"][0]))[0])
            assert ins_a
            for m in method:
                assert not bool(G.points_in_ring(
                    np.asarray([cx]), np.asarray([cy]),
                    np.asarray(m["rings"][0]))[0]) or \
                    any(bool(G.points_in_ring(
                        np.asarray([cx]), np.asarray([cy]),
                        np.asarray(h))[0]) for h in m["rings"][1:])


def test_erase_features_overlapping_method_union_fold(spark):
    """Erase must union the method layer first: two OVERLAPPING method
    squares on one input square — even-odd over the raw rings would
    resurrect the doubly-covered region; union_fold must not."""
    from gdal_spark import geom as G
    from gdal_spark.overlay_features import erase_features

    def sq(zid, x0, y0, s):
        r = np.asarray([(x0, y0), (x0 + s, y0), (x0 + s, y0 + s),
                        (x0, y0 + s), (x0, y0)], dtype=np.float64)
        return {"zone_id": zid, "eas_id": zid * 10, "rings": [r]}

    a = [sq(1, 0.0, 0.0, 10.0)]
    b = [sq(1, 2.0, 2.0, 4.0), sq(2, 4.0, 4.0, 4.0)]  # overlap [4,6]^2
    r = erase_features(spark, a, b).collect()[0]
    # area(B1 ∪ B2) = 16 + 16 - 4 = 28 -> leftover 72
    assert r["erased_area"] == pytest.approx(72.0, abs=1e-9)


def test_union_features_partitions_input(spark):
    """Union feature classes: per input zone, pair pieces + the input
    leftover partition area(A) exactly (disjoint method layer); leftover
    rows carry NULL attrs on the absent side."""
    from gdal_spark import geom as G
    from gdal_spark import wkb as W
    from gdal_spark.layer_algebra import disjoint_method_defs, shift_defs
    from gdal_spark.overlay_features import union_features
    from gdal_spark.zones import zone_defs

    defs = zone_defs()
    method = disjoint_method_defs(shift_defs(defs))
    rows = union_features(spark, defs, method).collect()

    def multi_area(blob):
        g = W.loads(bytes(blob))
        return sum(abs(G.ring_area(np.asarray(p[0], dtype=np.float64)))
                   for p in g["coords"])

    for z in defs:
        pair_area = sum(multi_area(r["geom"]) for r in rows
                        if r["input_zone"] == z["zone_id"]
                        and r["method_zone"] is not None)
        left = [r for r in rows if r["input_zone"] == z["zone_id"]
                and r["method_zone"] is None]
        left_area = sum(multi_area(r["geom"]) for r in left)
        for r in left:
            assert r["method_eas_id"] is None
        assert pair_area + left_area == pytest.approx(
            G.polygon_area(z["rings"]), abs=1e-9)
    # method leftovers exist and carry NULL input attrs
    b_left = [r for r in rows if r["input_zone"] is None]
    assert b_left and all(r["input_eas_id"] is None for r in b_left)


# ---------------------------------------------------------------------------
# option surface (ogrlayer.cpp:3290-3330): KEEP_LOWER_DIMENSION_GEOMETRIES,
# PROMOTE_TO_MULTI, INPUT_PREFIX/METHOD_PREFIX — autotest cases ported from
# autotest/ogr/ogr_layer_algebra.py
# ---------------------------------------------------------------------------


def test_result_field_names_prefix_rule():
    """set_result_schema (ogrlayer.cpp:3077): explicit prefixes always
    apply; otherwise only COLLIDING names get input_/method_."""
    from gdal_spark.overlay_features import result_field_names

    # autotest intersection_1 schema: A, input_same_in_both_layers,
    # B, method_same_in_both_layers
    got_in, got_m = result_field_names(
        ["A", "same_in_both_layers"], ["B", "same_in_both_layers"])
    assert got_in == ["A", "input_same_in_both_layers"]
    assert got_m == ["B", "method_same_in_both_layers"]
    got_in, got_m = result_field_names(
        ["A"], ["B"], input_prefix="in_", method_prefix="m_")
    assert got_in == ["in_A"] and got_m == ["m_B"]
    # one explicit prefix disables the implicit-collision rule entirely
    got_in, got_m = result_field_names(
        ["x"], ["x"], input_prefix="i_")
    assert got_in == ["i_x"] and got_m == ["x"]


def test_intersection_options_prefixed_columns(spark):
    """INPUT_PREFIX/METHOD_PREFIX become result column names."""
    from gdal_spark.overlay_features import intersection_features_options

    fa = [{"fid": 1, "gtype": "POLYGON", "fields": {"A": 1},
           "coords": [[1, 2], [1, 3], [3, 3], [3, 2], [1, 2]]}]
    fb = [{"fid": 1, "gtype": "POLYGON", "fields": {"B": "first"},
           "coords": [[2, 1], [2, 4], [6, 4], [6, 1], [2, 1]]}]
    df = intersection_features_options(
        spark, fa, fb, {"INPUT_PREFIX": "in_", "METHOD_PREFIX": "m_"})
    assert "in_A" in df.columns and "m_B" in df.columns
    rows = df.collect()
    assert len(rows) == 1
    assert rows[0]["in_A"] == "1" and rows[0]["m_B"] == "first"
    assert rows[0]["gtype"] == "POLYGON"


def test_intersection_options_keep_lower_dim_autotest(spark):
    """The exact autotest KEEP_LOWER_DIMENSION_GEOMETRIES expectation:
    YES -> 2 features (both points), NO -> 0."""
    from gdal_spark.overlay_features import intersection_features_options
    from gdal_spark.queries.spatial import _LA_T1, _LA_T2

    yes = intersection_features_options(
        spark, _LA_T1, _LA_T2,
        {"KEEP_LOWER_DIMENSION_GEOMETRIES": "YES"}).collect()
    no = intersection_features_options(
        spark, _LA_T1, _LA_T2,
        {"KEEP_LOWER_DIMENSION_GEOMETRIES": "NO"}).collect()
    assert len(yes) == 2 and all(r["gtype"] == "POINT" for r in yes)
    assert len(no) == 0


def test_intersection_options_promote_wkb_roundtrip(spark):
    """PROMOTE_TO_MULTI wraps the WKB as Multi*: decode and check the
    type code + the multipoint coordinate from the autotest case."""
    import struct

    from gdal_spark.overlay_features import intersection_features_options
    from gdal_spark.queries.spatial import _LA_X1, _LA_X2

    rows = intersection_features_options(
        spark, _LA_X1, _LA_X2, {"PROMOTE_TO_MULTI": "YES"}).collect()
    assert len(rows) == 1
    blob = bytes(rows[0]["geom"])
    # little-endian WKB: byte order, geom type 4 = MultiPoint
    assert blob[0] == 1
    assert struct.unpack("<I", blob[1:5])[0] == 4
    n = struct.unpack("<I", blob[5:9])[0]
    assert n == 1
    # member point: header (1 + 4) then x, y
    x, y = struct.unpack("<dd", blob[14:30])
    assert (x, y) == (0.5, 0.5)


def test_intersection_options_mixed_dim_pair_not_dropped(spark):
    """KEEP=NO only drops when the INPUT dims are EQUAL and the result
    is lower (ogrlayer.cpp:3540): a polygon x line pair yielding a
    line must survive KEEP=NO (dims 2 vs 1 are not equal)."""
    from gdal_spark.overlay_features import intersection_features_options

    fa = [{"fid": 1, "gtype": "POLYGON", "fields": {},
           "coords": [[1, 2], [1, 3], [3, 3], [3, 2], [1, 2]]}]
    fb = [{"fid": 1, "gtype": "LINESTRING", "fields": {},
           "coords": [[0, 2.5], [4, 2.5]]}]
    rows = intersection_features_options(
        spark, fa, fb,
        {"KEEP_LOWER_DIMENSION_GEOMETRIES": "NO"}).collect()
    assert len(rows) == 1
    assert rows[0]["gtype"] == "LINESTRING" and rows[0]["z_dim"] == 1
