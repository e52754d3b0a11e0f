"""kNN expansion-join exactness + CRS numpy/JVM cross-checks."""

import numpy as np
import pandas as pd
import pytest

from gdal_spark import crs


def test_knn_matches_bruteforce_random(spark):
    """Random clustered + sparse points: expansion join == brute force."""
    from gdal_spark.knn import knn_join

    rng = np.random.default_rng(11)
    # clustered points + sparse points + pole-ish and antimeridian cases
    pts = np.vstack([
        rng.normal([13.4, 52.5], 0.3, size=(300, 2)),
        rng.normal([-170.0, -10.0], 0.5, size=(100, 2)),  # near antimeridian
        rng.uniform([-180, -84], [180, 84], size=(100, 2)),
        np.array([[179.9, -10.0], [-179.9, -10.1], [10.0, 83.5]]),
    ])
    pts[:, 0] = np.clip(pts[:, 0], -180, 180)
    pts[:, 1] = np.clip(pts[:, 1], -84.9, 84.9)
    qs = np.vstack([
        rng.normal([13.4, 52.5], 0.4, size=(20, 2)),
        np.array([[179.95, -10.0], [0.0, -80.0], [100.0, 0.0]]),
    ])
    qs[:, 0] = np.clip(qs[:, 0], -180, 180)
    qs[:, 1] = np.clip(qs[:, 1], -84.9, 84.9)

    pdf = spark.createDataFrame(
        pd.DataFrame({"doc_id": np.arange(len(pts)),
                      "lon": pts[:, 0], "lat": pts[:, 1]}))
    qdf = spark.createDataFrame(
        pd.DataFrame({"qid": np.arange(len(qs)),
                      "lon": qs[:, 0], "lat": qs[:, 1]}))
    k = 4
    got = knn_join(pdf, qdf, k=k).toPandas()

    # numpy brute force with the same tie-break
    for qi in range(len(qs)):
        d = crs.haversine_m(qs[qi, 0], qs[qi, 1], pts[:, 0], pts[:, 1])
        order = np.lexsort((np.arange(len(pts)), d))[:k]
        mine = got[got.qid == qi].sort_values("rank")
        assert mine.doc_id.tolist() == order.tolist(), (
            qi, mine.doc_id.tolist(), order.tolist())
    assert len(got) == len(qs) * k


def test_knn_fewer_points_than_k(spark):
    from gdal_spark.knn import knn_join

    pdf = spark.createDataFrame(
        pd.DataFrame({"doc_id": [0, 1], "lon": [10.0, 11.0],
                      "lat": [50.0, 50.0]}))
    qdf = spark.createDataFrame(
        pd.DataFrame({"qid": [0], "lon": [10.5], "lat": [50.0]}))
    got = knn_join(pdf, qdf, k=5).toPandas()
    assert len(got) == 2  # only 2 points exist — both returned


_KNN_HAND_CASES = {
    # one query at (0, 80): a point 10° south on its meridian, then three
    # near (0..2, -80) — ~160° of arc away, so only a level covering the
    # whole grid finds them (a 5×5 ring at z2 misses row 3 from row 0)
    "far_south": ([(0, 70), (0, -80), (1, -80), (2, -80)], (0, 80), 4,
                  [None, 2, 4, 6], [0, 1, 2, 3]),
    # polar cap: (0, 89.9) is 0.2° of arc over the pole (22.26 km), while
    # (180, 89.5) on the query's own meridian is 0.4° (44.53 km); the
    # mercator clamp puts both in tile row 0, columns n/2 apart
    "polar_cap": ([(180 - 1e-9, 89.5), (0, 89.9), (10, 0)],
                  (180 - 1e-9, 89.9), 1, [None, 4, 6, 8, 14], [1]),
    # two points ±0.05° of lon from the query (doc 1 nearer by rounding),
    # then the far cluster by lon distance from -120 (all at lat -30)
    "far_cluster": ([(10, 10), (10.1, 10), (-120, -30), (-120.1, -30),
                     (-121, -30)], (10.05, 10), 4,
                    [None, 0, 1, 2, 3, 4, 5], [1, 0, 2, 3]),
}


@pytest.mark.parametrize("case", sorted(_KNN_HAND_CASES))
def test_knn_hand_derived_exact(spark, case):
    """Cases the ring levels cannot resolve alone: the brute-force final
    level, odd / tiny z0, and the polar guard must all give the exact
    answer. Expected ids are derived by hand, cross-checked with the
    numpy haversine (not the shared oracle SQL)."""
    from gdal_spark.knn import knn_join

    pts, (qlon, qlat), k, z0s, want = _KNN_HAND_CASES[case]
    lon = np.array([p[0] for p in pts], dtype=np.float64)
    lat = np.array([p[1] for p in pts], dtype=np.float64)
    d = crs.haversine_m(qlon, qlat, lon, lat)
    assert np.lexsort((np.arange(len(pts)), d))[:k].tolist() == want

    pdf = spark.createDataFrame(
        pd.DataFrame({"doc_id": np.arange(len(pts)), "lon": lon, "lat": lat}))
    qdf = spark.createDataFrame(
        pd.DataFrame({"qid": [0], "lon": [qlon], "lat": [qlat]}))
    for z0 in z0s:
        got = knn_join(pdf, qdf, k=k, z0=z0).toPandas().sort_values("rank")
        assert got.doc_id.tolist() == want, (z0, got.doc_id.tolist())
        assert got["rank"].tolist() == list(range(1, k + 1)), z0
        assert np.allclose(got.dist_m.to_numpy(), d[want], rtol=0, atol=1e-6)


def test_knn_join_launches_no_job_before_an_action(spark):
    """knn_join only builds a plan: no checkpoint, count or emptiness
    probe runs a Spark job until the caller's own action."""
    from gdal_spark.knn import knn_join

    pdf = spark.createDataFrame(pd.DataFrame(
        {"doc_id": [0, 1, 2], "lon": [10.0, 10.1, 40.0], "lat": [50.0] * 3}))
    qdf = spark.createDataFrame(pd.DataFrame(
        {"qid": [0], "lon": [10.02], "lat": [50.0]}))
    sc = spark.sparkContext
    group = "knn-lazy-plan"
    sc.setJobGroup(group, "knn_join must not run a job")
    try:
        out = knn_join(pdf, qdf, k=2)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
        got = out.toPandas().sort_values("rank")
        assert list(sc.statusTracker().getJobIdsForGroup(group))  # sees jobs
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert got.doc_id.tolist() == [0, 1]


def _assert_knn(spark, pts, qs, k, z0s, want):
    """knn_join over (lon, lat) lists gives the hand-derived ids ``want``
    ({qid: ids}); the numpy haversine must agree with the hand ranking."""
    from gdal_spark.knn import knn_join

    lon, lat = (np.array(v, dtype=np.float64) for v in zip(*pts))
    for qi, (qlon, qlat) in enumerate(qs):
        d = crs.haversine_m(qlon, qlat, lon, lat)
        assert np.lexsort((np.arange(len(pts)), d))[:k].tolist() == want[qi]
    pdf = spark.createDataFrame(
        pd.DataFrame({"doc_id": np.arange(len(pts)), "lon": lon, "lat": lat}))
    qdf = spark.createDataFrame(pd.DataFrame(
        {"qid": np.arange(len(qs)), "lon": [q[0] for q in qs],
         "lat": [q[1] for q in qs]}))
    for z0 in z0s:
        got = knn_join(pdf, qdf, k=k, z0=z0).toPandas()
        for qi in range(len(qs)):
            mine = got[got.qid == qi].sort_values("rank")
            assert mine.doc_id.tolist() == want[qi], (z0, qi, mine)
            assert mine["rank"].tolist() == list(range(1, k + 1)), (z0, qi)


def test_knn_cap_crosses_antimeridian(spark):
    """From (179.99, 0) the point at -179.99 is 0.02° of longitude away
    across the antimeridian (2.2 km), 179.9 is 0.09° (10.0 km) and -179.5
    is 0.51° (56.8 km): the cover must wrap to find the nearest."""
    _assert_knn(spark, [(-179.99, 0.0), (179.9, 0.0), (-179.5, 0.0)],
                [(179.99, 0.0)], 2, [None, 2, 3, 8, 14], {0: [0, 1]})


def test_knn_nearest_lies_past_the_block(spark):
    """At z6 (5.625° tiles) the query (2.8125, 2.8) sits mid-tile (32, 31);
    its 3×3 block spans lon -5.625..11.25 and lat -5.6..11.18, and holds
    only point 0 at its corner (11, 11), 11.6° of arc away. Point 1 at
    (11.6, 2.8) is in column 34, past the block, yet only 8.8° away: the
    cover of the block's bound (11.9°) must reach it."""
    _assert_knn(spark, [(11.0, 11.0), (11.6, 2.8)], [(2.8125, 2.8)], 1,
                [None, 2, 6], {0: [1]})


def test_knn_hot_cluster_and_isolated_query(spark):
    """50 points spiral out from (10, 50): point i sits 2e-4·(i+1)° of
    arc from the centre (all within 0.01°), so a query at the centre has
    points 0-4 as its 5 nearest. Points 50-54 lie due north of the
    isolated query (-80, -40) at 15°, 30°, …, 75°; the cluster is over
    90° of arc from it, so its 5 nearest are 50-54 in order."""
    golden = np.radians(137.5)
    pts = [(10.0 + 2e-4 * (i + 1) * np.cos(i * golden) / np.cos(np.radians(50.0)),
            50.0 + 2e-4 * (i + 1) * np.sin(i * golden)) for i in range(50)]
    pts += [(-80.0, -40.0 + 15.0 * j) for j in range(1, 6)]
    _assert_knn(spark, pts, [(10.0, 50.0), (-80.0, -40.0)], 5,
                [None, 2, 3, 14], {0: [0, 1, 2, 3, 4], 1: [50, 51, 52, 53, 54]})


def test_tmerc_jvm_matches_numpy(spark):
    """The staged Catalyst Krüger pipeline ≡ the numpy kernel (≤ 1e-6 m)."""
    rng = np.random.default_rng(5)
    lon = rng.uniform(-3, 9, 200)
    lat = rng.uniform(-80, 84, 200)
    df = spark.createDataFrame(pd.DataFrame({"lon": lon, "lat": lat}))
    out = crs.apply_sql_stages(df, crs.tmerc_sql_stages("lon", "lat", 3.0))
    got = out.select("easting", "northing").toPandas()
    E, N, ok = crs.tmerc_fwd_np(lon, lat, 3.0)
    assert np.allclose(got.easting, E, atol=1e-6)
    assert np.allclose(got.northing, N, atol=1e-6)


def test_webmercator_jvm_matches_numpy(spark):
    rng = np.random.default_rng(6)
    lon = rng.uniform(-180, 180, 200)
    lat = rng.uniform(-85, 85, 200)
    df = spark.createDataFrame(pd.DataFrame({"lon": lon, "lat": lat}))
    out = crs.apply_sql_stages(df, crs.webmercator_sql_stages("lon", "lat"))
    got = out.select("x_3857", "y_3857").toPandas()
    X, Y, ok = crs.webmercator_fwd_np(lon, lat)
    assert np.allclose(got.x_3857, X, atol=1e-6)
    assert np.allclose(got.y_3857, Y, atol=1e-6)


def test_utm_accuracy_vs_independent_series():
    """Cross-check the Krüger n^6 series against an independent Snyder
    (1987) truncated-series implementation: they must agree to ~1 mm
    (Snyder truncates at A^6, Krüger n^6 is nanometer-grade)."""
    import math

    a = 6378137.0
    f = 1 / 298.257223563
    e2 = f * (2 - f)
    ep2 = e2 / (1 - e2)
    k0 = 0.9996
    lon0 = math.radians(3.0)
    for lon_d, lat_d in [(2.0, 49.0), (5.5, -33.0), (8.9, 71.0), (3.0, 0.0)]:
        lat = math.radians(lat_d)
        lon = math.radians(lon_d)
        Nr = a / math.sqrt(1 - e2 * math.sin(lat) ** 2)
        T = math.tan(lat) ** 2
        C = ep2 * math.cos(lat) ** 2
        A = (lon - lon0) * math.cos(lat)
        M = a * ((1 - e2 / 4 - 3 * e2 ** 2 / 64 - 5 * e2 ** 3 / 256) * lat
                 - (3 * e2 / 8 + 3 * e2 ** 2 / 32 + 45 * e2 ** 3 / 1024)
                 * math.sin(2 * lat)
                 + (15 * e2 ** 2 / 256 + 45 * e2 ** 3 / 1024) * math.sin(4 * lat)
                 - (35 * e2 ** 3 / 3072) * math.sin(6 * lat))
        E_ref = k0 * Nr * (A + (1 - T + C) * A ** 3 / 6
                           + (5 - 18 * T + T ** 2 + 72 * C - 58 * ep2)
                           * A ** 5 / 120) + 500000
        N_ref = k0 * (M + Nr * math.tan(lat) * (
            A ** 2 / 2 + (5 - T + 9 * C + 4 * C ** 2) * A ** 4 / 24
            + (61 - 58 * T + T ** 2 + 600 * C - 330 * ep2) * A ** 6 / 720))
        E, N, ok = crs.tmerc_fwd_np(np.array([lon_d]), np.array([lat_d]), 3.0)
        assert ok[0]
        assert abs(E[0] - E_ref) < 2e-3, (lon_d, lat_d, E[0], E_ref)
        assert abs(N[0] - N_ref) < 2e-3, (lon_d, lat_d, N[0], N_ref)


def test_lcc93_defining_invariants():
    """At the projection origin (λ0, φ0) the output is exactly the false
    origin; round-trips are nanometer-tight; distances scale ~1 near the
    standard parallels (EPSG method 9802 invariants)."""
    import numpy as np

    from gdal_spark.crs import haversine_m, lcc_fwd_np, lcc_inv_np

    x, y, ok = lcc_fwd_np(np.array([3.0]), np.array([46.5]))
    assert ok[0] and abs(x[0] - 700000.0) < 1e-6
    assert abs(y[0] - 6600000.0) < 1e-6

    lon = np.array([1.0, 2.35, 5.0, -1.5, 7.8])
    lat = np.array([48.5, 48.85, 44.5, 43.2, 49.9])
    e, n, ok = lcc_fwd_np(lon, lat)
    assert ok.all()
    lon2, lat2, ok2 = lcc_inv_np(e, n)
    assert np.abs(lon2 - lon).max() < 1e-9
    assert np.abs(lat2 - lat).max() < 1e-9

    # scale along the φ1=49° standard parallel is 1 (conformal 2SP)
    e1, n1, _ = lcc_fwd_np(np.array([2.0, 2.1]), np.array([49.0, 49.0]))
    proj_d = float(np.hypot(e1[1] - e1[0], n1[1] - n1[0]))
    true_d = float(haversine_m(2.0, 49.0, 2.1, 49.0))
    assert abs(proj_d / true_d - 1.0) < 2e-3  # sphere-vs-ellipsoid slack


def test_epsg_registry_dispatch_and_flags():
    import numpy as np

    from gdal_spark.crs import epsg_fwd_np, epsg_inv_np, transform_np

    lon = np.array([3.0, 5.5, np.nan])
    lat = np.array([46.5, 47.0, 10.0])
    for code in (4326, 3857, 32631, 32731, 2154):
        x, y, ok = epsg_fwd_np(code)(lon, lat)
        assert list(ok) == [True, True, False]
        lon2, lat2, _ = epsg_inv_np(code)(x[:2], y[:2])
        assert np.abs(lon2 - lon[:2]).max() < 1e-8
        assert np.abs(lat2 - lat[:2]).max() < 1e-8

    # arbitrary pair through the hub: Lambert-93 → WebMercator
    e, n, _ = epsg_fwd_np(2154)(np.array([3.0]), np.array([46.5]))
    x, y, ok = transform_np(2154, 3857, e, n)
    xr, yr, _ = epsg_fwd_np(3857)(np.array([3.0]), np.array([46.5]))
    assert ok[0] and abs(x[0] - xr[0]) < 1e-6 and abs(y[0] - yr[0]) < 1e-6

    # UTM south false northing
    es, ns, oks = epsg_fwd_np(32731)(np.array([3.0]), np.array([-20.0]))
    assert oks[0] and ns[0] > 7000000.0


def test_polar_stereographic_epsg_example_and_roundtrip():
    """Polar Stereographic variant B (EPSG method 9829): the published
    EPSG Guidance Note 7-2 worked example for EPSG:3032 (75°S 120°E →
    E 7,255,380.79 / N 7,053,389.56), fwd∘inv identity, the pole maps
    to the false origin, and scale is true at the standard parallel."""
    import numpy as np

    from gdal_spark.crs import PS_3031, PS_3032, ps_fwd_np, ps_inv_np

    E, N, ok = ps_fwd_np([120.0], [-75.0], PS_3032)
    assert ok[0]
    assert abs(E[0] - 7255380.79) < 0.01
    assert abs(N[0] - 7053389.56) < 0.01

    lons = np.linspace(-179.0, 179.0, 25)
    lats = np.linspace(-89.5, -20.0, 21)
    LO, LA = np.meshgrid(lons, lats)
    E, N, ok = ps_fwd_np(LO.ravel(), LA.ravel(), PS_3031)
    lo2, la2, ok2 = ps_inv_np(E, N, PS_3031)
    assert ok.all() and ok2.all()
    assert np.max(np.abs(lo2 - LO.ravel())) < 1e-11
    assert np.max(np.abs(la2 - LA.ravel())) < 1e-11

    E, N, ok = ps_fwd_np([33.0], [-90.0], PS_3031)
    assert E[0] == PS_3031.fe and N[0] == PS_3031.fn

    # true scale at phi_F = -71: local ratio of projected to ellipsoidal
    # arc length along the parallel equals 1
    import math
    d = 1e-6
    (e1, e2), (n1, n2), _ = ps_fwd_np([0.0, d], [-71.0, -71.0], PS_3031)
    proj_arc = math.hypot(e2 - e1, n2 - n1)
    a, e = 6378137.0, PS_3031.e
    nu = a / math.sqrt(1 - e * e * math.sin(math.radians(-71.0)) ** 2)
    true_arc = nu * math.cos(math.radians(-71.0)) * math.radians(d)
    assert abs(proj_arc / true_arc - 1.0) < 1e-7


def test_albers_equal_area_property_and_roundtrip():
    """Independent oracle for the EPSG:3577 Albers family: (a) the
    defining equal-area property — the projected area of a small
    geographic quad equals its ellipsoidal area (Jacobian ≈ 1, checked
    to 1e-6 relative) — and (b) fwd∘inv round-trips to 1e-9 degrees
    across the Australian domain (n < 0 southern two-parallel case)."""
    import math

    from gdal_spark.crs import AEA_3577, aea_fwd_np, aea_inv_np

    p = AEA_3577
    e2 = p.e * p.e
    d = 0.01
    for lon in (115.0, 132.0, 140.0, 153.0):
        for lat in (-43.0, -35.0, -25.0, -11.0):
            xs, ys, ok = aea_fwd_np(
                [lon, lon + d, lon + d, lon],
                [lat, lat, lat + d, lat + d])
            assert ok.all()
            area_proj = 0.5 * abs(sum(
                xs[i] * ys[(i + 1) % 4] - xs[(i + 1) % 4] * ys[i]
                for i in range(4)))
            phi = math.radians(lat + d / 2.0)
            area_ell = (p.a * p.a * (1.0 - e2) * math.cos(phi)
                        / (1.0 - e2 * math.sin(phi) ** 2) ** 2
                        * math.radians(d) * math.radians(d))
            assert abs(area_proj / area_ell - 1.0) < 1e-6
            lo, la, ok2 = aea_inv_np(xs, ys)
            assert ok2.all()
            assert np.abs(lo - [lon, lon + d, lon + d, lon]).max() < 1e-9
            assert np.abs(la - [lat, lat, lat + d, lat + d]).max() < 1e-9


def test_albers_center_and_parallel_invariants():
    """At (φ0, λ0) the projection maps to (FE, FN) exactly; on the two
    standard parallels the meridian scale h = k⁻¹ and the parallel scale
    k = 1 (true-scale parallels) — checked numerically via finite
    differences."""
    from gdal_spark.crs import AEA_3577, aea_fwd_np

    p = AEA_3577
    x0, y0, ok = aea_fwd_np([p.lon0_deg], [0.0])
    assert ok.all()
    assert abs(x0[0] - p.fe) < 1e-6 and abs(y0[0] - p.fn) < 1e-6
    import math

    for lat in (-18.0, -36.0):  # the standard parallels
        d = 1e-6
        (x1, x2), (y1, y2), _ = aea_fwd_np([140.0, 140.0 + d], [lat, lat])
        dist = math.hypot(x2 - x1, y2 - y1)
        # length of d degrees of parallel on the ellipsoid
        nu = p.a / math.sqrt(1.0 - p.e * p.e
                             * math.sin(math.radians(lat)) ** 2)
        ell = nu * math.cos(math.radians(lat)) * math.radians(d)
        assert abs(dist / ell - 1.0) < 1e-4  # k = 1 on a std parallel


def test_utm_south_false_northing_family():
    """EPSG:32731 is EPSG:31-N's Krüger with FN = 10,000,000 (the 327xx
    family rule): southern points differ from the fn=0 series by exactly
    the false northing, and the inverse round-trips."""
    from gdal_spark.crs import epsg_fwd_np, epsg_inv_np

    lon = np.array([1.0, 3.0, 5.5, 8.9])
    lat = np.array([-1.0, -33.7, -55.0, -79.9])
    e_s, n_s, ok = epsg_fwd_np(32731)(lon, lat)
    assert ok.all()
    e_n, n_n, _ = epsg_fwd_np(32631)(lon, lat)
    assert np.abs(e_s - e_n).max() < 1e-9
    assert np.abs((n_s - n_n) - 10000000.0).max() < 1e-9
    lo, la, ok2 = epsg_inv_np(32731)(e_s, n_s)
    assert ok2.all()
    assert np.abs(lo - lon).max() < 1e-9
    assert np.abs(la - lat).max() < 1e-9


def test_inverse_sql_stages_match_numpy_all_families(ddb):
    """The unrolled inverse staged-SQL pipelines (the dst-CRS⁻¹ warp
    leg) agree with the numpy inverse kernels to 1e-9 and round-trip
    the forward kernels, for every registered family."""
    from gdal_spark.crs import (epsg_fwd_np, epsg_inv_np, epsg_inv_stages,
                                stages_to_duckdb_sql)

    rng = np.random.RandomState(11)
    domains = {
        3857: (rng.uniform(-179, 179, 50), rng.uniform(-84, 84, 50)),
        2154: (rng.uniform(-4, 9, 50), rng.uniform(41, 51, 50)),
        3031: (rng.uniform(-179, 179, 50), rng.uniform(-89, -60, 50)),
        3032: (rng.uniform(-179, 179, 50), rng.uniform(-89, -60, 50)),
        3577: (rng.uniform(112, 154, 50), rng.uniform(-44, -9, 50)),
        32631: (rng.uniform(-1, 7, 50), rng.uniform(1, 80, 50)),
        32731: (rng.uniform(-1, 7, 50), rng.uniform(-80, -1, 50)),
        25832: (rng.uniform(5, 13, 50), rng.uniform(35, 70, 50)),
        26718: (rng.uniform(-79, -71, 50), rng.uniform(25, 50, 50)),
        # round-4 breadth: LAEA Europe, CONUS Albers, NZTM2000,
        # NSIDC north PS, UPS N/S, NAD83 UTM 18N, GDA94 + GDA2020 MGA 55
        3035: (rng.uniform(-10, 35, 50), rng.uniform(34, 71, 50)),
        5070: (rng.uniform(-125, -66, 50), rng.uniform(24, 50, 50)),
        2193: (rng.uniform(166, 179, 50), rng.uniform(-47.5, -34, 50)),
        3413: (rng.uniform(-179, 179, 50), rng.uniform(55, 89.5, 50)),
        32661: (rng.uniform(-179, 179, 50), rng.uniform(60, 89.9, 50)),
        32761: (rng.uniform(-179, 179, 50), rng.uniform(-89.9, -60, 50)),
        26918: (rng.uniform(-79, -71, 50), rng.uniform(25, 50, 50)),
        28355: (rng.uniform(144, 150, 50), rng.uniform(-44, -10, 50)),
        7855: (rng.uniform(144, 150, 50), rng.uniform(-44, -10, 50)),
    }
    for code, (lon, lat) in domains.items():
        x, y, _ = epsg_fwd_np(code)(lon, lat)
        lo_np, la_np, _ = epsg_inv_np(code)(x, y)
        ddb.register("inv_pts", pd.DataFrame({"x": x, "y": y}))
        sql = stages_to_duckdb_sql(
            "select x, y from inv_pts",
            epsg_inv_stages(code, "x", "y"), ["lon", "lat", "ok"])
        out = ddb.execute(sql).df()
        assert out["ok"].all(), code
        assert np.abs(out["lon"] - lo_np).max() < 1e-9, code
        assert np.abs(out["lat"] - la_np).max() < 1e-9, code
        assert np.abs(out["lon"] - lon).max() < 1e-8, code
        assert np.abs(out["lat"] - lat).max() < 1e-8, code


def test_inverse_sql_stages_spark_matches_duckdb(spark, ddb):
    """Cross-engine parity of the inverse stage text, spot-checked for
    the iterative LCC and Albers inverses. JVM Math and DuckDB libm
    differ by ≤1 ULP on exp/ln/atan2 for some inputs, so parity here is
    ≤1e-9 degrees (~0.1 µm) — far below the mm rounding every contract
    query applies before hashing."""
    from gdal_spark.crs import (apply_sql_stages, epsg_fwd_np,
                                epsg_inv_stages, stages_to_duckdb_sql)

    rng = np.random.RandomState(5)
    for code, dom in ((2154, ((-4, 9), (41, 51))),
                      (3577, ((112, 154), (-44, -9)))):
        lon = rng.uniform(*dom[0], 40)
        lat = rng.uniform(*dom[1], 40)
        x, y, _ = epsg_fwd_np(code)(lon, lat)
        pdf = pd.DataFrame({"i": np.arange(40), "x": x, "y": y})
        sdf = apply_sql_stages(spark.createDataFrame(pdf),
                               epsg_inv_stages(code, "x", "y"))
        got = (sdf.select("i", "lon", "lat").toPandas()
               .sort_values("i").reset_index(drop=True))
        ddb.register("inv_pts2", pdf)
        sql = stages_to_duckdb_sql(
            "select i, x, y from inv_pts2",
            epsg_inv_stages(code, "x", "y"), ["i", "lon", "lat"])
        want = ddb.execute(sql).df().sort_values("i").reset_index(drop=True)
        assert np.abs(got["lon"].to_numpy()
                      - want["lon"].to_numpy()).max() < 1e-9, code
        assert np.abs(got["lat"].to_numpy()
                      - want["lat"].to_numpy()).max() < 1e-9, code


def test_knn_default_z0_no_action(spark, monkeypatch):
    """The default-z0 density heuristic derives from plan statistics —
    it must not spend a count() action on the point table (the round-2
    scale concern). count() is poisoned; the join must still resolve
    exactly."""
    from gdal_spark.knn import knn_join

    pts = spark.range(200).selectExpr(
        "id as doc_id",
        "cast(-5.0 + (id % 40) * 0.25 as double) as lon",
        "cast(40.0 + (id div 40) * 0.3 as double) as lat")
    qs = pts.filter("doc_id % 37 = 1").selectExpr(
        "doc_id as qid", "lon", "lat")
    import pyspark.sql

    def _no_count(self):
        raise AssertionError("count() action in knn default path")

    monkeypatch.setattr(pyspark.sql.DataFrame, "count", _no_count)
    out = knn_join(pts, qs, k=3)  # z0 defaulted
    monkeypatch.undo()
    got = out.toPandas()
    assert len(got) == qs.count() * 3
    assert (got.groupby("qid")["rank"].max() == 3).all()


def test_osgb36_os_guide_worked_example():
    """OS 'A guide to coordinate systems in Great Britain' worked
    example (projection leg, OSGB36 geodetic in): 52°39′27.2531″N
    1°43′4.5177″E → E 651409.903 / N 313177.270 (mm-exact)."""
    from gdal_spark.crs import TMERC_27700, tmerc_fwd_np_p

    lat = 52 + 39 / 60 + 27.2531 / 3600
    lon = 1 + 43 / 60 + 4.5177 / 3600
    E, N, ok = tmerc_fwd_np_p([lon], [lat], TMERC_27700)
    assert ok[0]
    assert abs(E[0] - 651409.903) < 1e-3
    assert abs(N[0] - 313177.270) < 1e-3


def test_osgb36_datum_shift_and_roundtrip():
    """Full 4326→27700 chain: the Helmert datum shift moves Greenwich
    by the published ~120 m (vs the naive no-shift projection), the
    exact-matrix inverse round-trips to ~1e-8 degrees (the XYZ→geodetic
    fixed point), and the dispatch surfaces agree."""
    import math

    from gdal_spark.crs import (TMERC_27700, epsg_fwd_np, epsg_inv_np,
                                osgb36_fwd_np, tmerc_fwd_np_p)

    E, N, ok = osgb36_fwd_np([0.0], [51.4779])
    En, Nn, _ = tmerc_fwd_np_p([0.0], [51.4779], TMERC_27700)
    shift = math.hypot(E[0] - En[0], N[0] - Nn[0])
    assert 100.0 < shift < 140.0  # published WGS84↔OSGB36 offset scale
    rng = np.random.RandomState(4)
    lon = rng.uniform(-7, 1.8, 200)
    lat = rng.uniform(49.9, 60.8, 200)
    x, y, ok = epsg_fwd_np(27700)(lon, lat)
    assert ok.all()
    lo, la, ok2 = epsg_inv_np(27700)(x, y)
    assert ok2.all()
    assert np.abs(lo - lon).max() < 5e-8
    assert np.abs(la - lat).max() < 5e-8


def test_osgb36_sql_stages_match_numpy(ddb):
    """The 27700 staged-SQL chain (geocentric Helmert + Airy Krüger,
    both directions) matches the numpy kernels to nm scale."""
    from gdal_spark.crs import (epsg_fwd_stages, epsg_inv_stages,
                                osgb36_fwd_np, osgb36_inv_np,
                                stages_to_duckdb_sql)

    rng = np.random.RandomState(12)
    lon = rng.uniform(-7, 1.8, 80)
    lat = rng.uniform(49.9, 60.8, 80)
    ddb.register("gb_pts", pd.DataFrame({"lon": lon, "lat": lat}))
    sql = stages_to_duckdb_sql(
        "select lon, lat from gb_pts",
        epsg_fwd_stages(27700, "e", "n"), ["e", "n", "ok"])
    out = ddb.execute(sql).df()
    E, N, _ = osgb36_fwd_np(lon, lat)
    assert out["ok"].all()
    assert np.abs(out["e"] - E).max() < 1e-6
    assert np.abs(out["n"] - N).max() < 1e-6
    ddb.register("gb_xy", pd.DataFrame({"x": E, "y": N}))
    sql2 = stages_to_duckdb_sql(
        "select x, y from gb_xy",
        epsg_inv_stages(27700, "x", "y"), ["lon", "lat", "ok"])
    out2 = ddb.execute(sql2).df()
    lo, la, _ = osgb36_inv_np(E, N)
    assert np.abs(out2["lon"] - lo).max() < 1e-12
    assert np.abs(out2["lat"] - la).max() < 1e-12


def test_nad27_snyder_worked_example():
    """Clarke 1866 transverse Mercator vs Snyder 1987 §8's published
    UTM example (p. 269-270): φ=40°30'N, λ=73°30'W, zone 18 →
    E=627106.5, N=4484124.4 (table rounded to 0.1 m)."""
    from gdal_spark.crs import TMERC_26718, tmerc_fwd_np_p

    E, N, ok = tmerc_fwd_np_p([-73.5], [40.5], TMERC_26718)
    assert ok[0]
    assert abs(E[0] - 627106.5) < 0.1
    assert abs(N[0] - 4484124.4) < 0.1


def test_nad27_datum_shift_and_roundtrip():
    """4326→26718 applies the EPSG:1173 geocentric translation (so it
    differs from a no-shift Clarke 1866 projection by tens of meters),
    and the full chain round-trips to sub-mm."""
    import numpy as np

    from gdal_spark.crs import (TMERC_26718, epsg_fwd_np, epsg_inv_np,
                                tmerc_fwd_np_p)

    rng = np.random.RandomState(7)
    lon = rng.uniform(-79, -71, 60)
    lat = rng.uniform(25, 50, 60)
    E, N, ok = epsg_fwd_np(26718)(lon, lat)
    assert ok.all()
    E0, N0, _ = tmerc_fwd_np_p(lon, lat, TMERC_26718)
    shift = np.hypot(E - E0, N - N0)
    assert shift.min() > 5.0 and shift.max() < 300.0
    lo, la, ok2 = epsg_inv_np(26718)(E, N)
    assert ok2.all()
    assert np.abs(lo - lon).max() < 1e-8
    assert np.abs(la - lat).max() < 1e-8


def test_etrs89_utm_grs80_vs_wgs84_family():
    """EPSG:25832 (GRS80) agrees with the WGS84 Krüger fast path to
    sub-mm (the ellipsoids differ by 0.1 mm in b) but is resolved from
    the parameter table as a distinct family; zone origin is exact."""
    import numpy as np

    from gdal_spark.crs import epsg_fwd_np, tmerc_fwd_np

    E, N, ok = epsg_fwd_np(25832)(np.array([9.0]), np.array([0.0]))
    assert ok[0] and abs(E[0] - 500000.0) < 1e-6 and abs(N[0]) < 1e-6
    rng = np.random.RandomState(3)
    lon = rng.uniform(6, 12, 40)
    lat = rng.uniform(-80, 80, 40)
    E1, N1, _ = epsg_fwd_np(25832)(lon, lat)
    E2, N2, _ = tmerc_fwd_np(lon, lat, 9.0)
    assert np.abs(E1 - E2).max() < 1e-3
    assert np.abs(N1 - N2).max() < 1e-3


def test_epsg_table_unknown_code_message():
    """An unregistered code names the parameter table in its error."""
    import pytest

    from gdal_spark.crs import epsg_fwd_stages

    with pytest.raises(KeyError, match="parameter table"):
        epsg_fwd_stages(2056)


# ---------------------------------------------------------------------------
# Round-4 CRS breadth: LAEA 3035, CONUS Albers 5070, NZTM 2193, north
# polar stereographic (3413 variant B / UPS 32661-32761 variant A), and
# the GRS80 UTM grid ranges (NAD83 269xx, ETRS89 258xx, MGA 283xx/78xx).
# ---------------------------------------------------------------------------


def test_new_codes_definition_anchors():
    """Projection centre → (FE, FN) exactly, per the EPSG definitions —
    an exact structural anchor that catches any constant error in qp,
    β0, Rq, D, ρ0, or k_rho."""
    from gdal_spark.crs import epsg_fwd_np

    for code, (lon, lat), (fe, fn) in [
        (3035, (10.0, 52.0), (4321000.0, 3210000.0)),
        (5070, (-96.0, 23.0), (0.0, 0.0)),
        (2193, (173.0, 0.0), (1600000.0, 10000000.0)),
        (32661, (0.0, 90.0), (2000000.0, 2000000.0)),
        (32761, (0.0, -90.0), (2000000.0, 2000000.0)),
        (26918, (-75.0, 0.0), (500000.0, 0.0)),
        (28355, (147.0, 0.0), (500000.0, 10000000.0)),
    ]:
        x, y, ok = epsg_fwd_np(code)([lon], [lat])
        assert ok[0], code
        assert abs(x[0] - fe) < 1e-6 and abs(y[0] - fn) < 1e-6, code


def test_ps_north_south_symmetry():
    """The north-aspect PS equals the mirrored south aspect: same
    easting, negated northing offset — validating the sgn factoring in
    PsParams/ps_fwd_np against the already-verified south formulas."""
    from gdal_spark.crs import PS_3413, PsParams, ps_fwd_np, ps_inv_np

    south_twin = PsParams(phi_f_deg=-70.0, lon0_deg=-45.0, fe=0.0, fn=0.0)
    rng = np.random.RandomState(3)
    lon = rng.uniform(-179, 179, 100)
    lat = rng.uniform(55, 89, 100)
    xn, yn, okn = ps_fwd_np(lon, lat, PS_3413)
    xs, ys, oks = ps_fwd_np(lon, -lat, south_twin)
    assert okn.all() and oks.all()
    assert np.abs(xn - xs).max() < 1e-6
    assert np.abs(yn + ys).max() < 1e-6
    lo, la, ok = ps_inv_np(xn, yn, PS_3413)
    assert ok.all()
    assert np.abs(lo - lon).max() < 1e-8
    assert np.abs(la - lat).max() < 1e-8


def test_ups_variant_a_scale_at_pole():
    """UPS (variant A) must deliver scale k0 = 0.994 at the pole: a
    point 1° from the pole maps to ρ ≈ k0 · (meridian distance) within
    the ~0.004% distortion of 1°."""
    from gdal_spark.crs import epsg_fwd_np

    x, y, ok = epsg_fwd_np(32661)([0.0], [89.0])
    rho = float(np.hypot(x[0] - 2000000.0, y[0] - 2000000.0))
    # meridian arc length of 1° at the pole on WGS84 ≈ 111 693.9 m
    assert ok[0]
    assert abs(rho / 111693.9 - 0.994) < 2e-4


def test_laea_equal_area_jacobian():
    """LAEA must preserve area: the numeric Jacobian of the forward map
    equals cos(φ)·M·N·(π/180)² everywhere on the ellipsoid (relative
    error < 1e-6 at fixture precision)."""
    from gdal_spark.crs import epsg_fwd_np

    lon = np.array([0.0, 10.0, 25.0, -8.0, 30.0])
    lat = np.array([40.0, 52.0, 65.0, 36.0, 70.0])
    h = 1e-6
    fwd = epsg_fwd_np(3035)
    x0, y0, _ = fwd(lon, lat)
    x1, y1, _ = fwd(lon + h, lat)
    x2, y2, _ = fwd(lon, lat + h)
    jac = ((x1 - x0) * (y2 - y0) - (x2 - x0) * (y1 - y0)) / (h * h)
    a, e2 = 6378137.0, 0.006694380022903416
    s2 = np.sin(np.radians(lat)) ** 2
    m = a * (1 - e2) / (1 - e2 * s2) ** 1.5
    n = a / np.sqrt(1 - e2 * s2)
    expected = (np.pi / 180.0) ** 2 * np.cos(np.radians(lat)) * m * n
    assert np.abs(jac / expected - 1).max() < 1e-4


def test_new_codes_fwd_sql_matches_numpy(ddb):
    """The forward staged SQL of every round-4 code agrees with the
    numpy kernel under DuckDB to 1e-6 m (same shared-text contract as
    the inverse all-families test)."""
    from gdal_spark.crs import (epsg_fwd_np, epsg_fwd_stages,
                                stages_to_duckdb_sql)

    rng = np.random.RandomState(17)
    domains = {
        3035: (rng.uniform(-10, 35, 40), rng.uniform(34, 71, 40)),
        5070: (rng.uniform(-125, -66, 40), rng.uniform(24, 50, 40)),
        2193: (rng.uniform(166, 179, 40), rng.uniform(-47.5, -34, 40)),
        3413: (rng.uniform(-179, 179, 40), rng.uniform(55, 89.5, 40)),
        32661: (rng.uniform(-179, 179, 40), rng.uniform(60, 89.9, 40)),
        32761: (rng.uniform(-179, 179, 40), rng.uniform(-89.9, -60, 40)),
        26918: (rng.uniform(-79, -71, 40), rng.uniform(25, 50, 40)),
        28355: (rng.uniform(144, 150, 40), rng.uniform(-44, -10, 40)),
        7855: (rng.uniform(144, 150, 40), rng.uniform(-44, -10, 40)),
    }
    for code, (lon, lat) in domains.items():
        x_np, y_np, ok_np = epsg_fwd_np(code)(lon, lat)
        assert ok_np.all(), code
        ddb.register("fwd_pts_r4", pd.DataFrame({"lon": lon, "lat": lat}))
        sql = stages_to_duckdb_sql(
            "select lon, lat from fwd_pts_r4",
            epsg_fwd_stages(code, "e", "n"),
            ["e", "n", "ok"])
        out = ddb.execute(sql).df()
        assert out["ok"].all(), code
        assert np.abs(out["e"] - x_np).max() < 1e-6, code
        assert np.abs(out["n"] - y_np).max() < 1e-6, code


def test_equal_earth_and_sinusoidal_fwd_sql_matches_numpy(ddb):
    """Round-5 world equal-area codes: the forward staged SQL agrees
    with the numpy kernel under DuckDB to 1e-6 m over the whole
    globe."""
    from gdal_spark.crs import (epsg_fwd_np, epsg_fwd_stages,
                                stages_to_duckdb_sql)

    rng = np.random.RandomState(51)
    lon = rng.uniform(-179.5, 179.5, 60)
    lat = rng.uniform(-89.5, 89.5, 60)
    for code in (8857, 6842, 54009):
        x_np, y_np, ok_np = epsg_fwd_np(code)(lon, lat)
        assert ok_np.all(), code
        ddb.register("fwd_pts_r5", pd.DataFrame({"lon": lon, "lat": lat}))
        sql = stages_to_duckdb_sql(
            "select lon, lat from fwd_pts_r5",
            epsg_fwd_stages(code, "e", "n"),
            ["e", "n", "ok"])
        out = ddb.execute(sql).df()
        assert out["ok"].all(), code
        assert np.abs(out["e"] - x_np).max() < 1e-6, code
        assert np.abs(out["n"] - y_np).max() < 1e-6, code


def test_equal_earth_and_sinusoidal_inv_sql_roundtrip(ddb):
    """code → 4326 staged SQL inverts the numpy forward to < 1e-7 deg
    (Newton + authalic series unrolled for 8857; closed form for the
    MODIS sphere)."""
    from gdal_spark.crs import (epsg_fwd_np, epsg_inv_stages,
                                stages_to_duckdb_sql)

    rng = np.random.RandomState(53)
    lon = rng.uniform(-170.0, 170.0, 50)
    lat = rng.uniform(-85.0, 85.0, 50)
    for code in (8857, 6842, 54009):
        x, y, ok = epsg_fwd_np(code)(lon, lat)
        assert ok.all()
        ddb.register("inv_pts_r5", pd.DataFrame({"x": x, "y": y}))
        sql = stages_to_duckdb_sql(
            "select x, y from inv_pts_r5",
            epsg_inv_stages(code, "x", "y"),
            ["lon", "lat", "ok"])
        out = ddb.execute(sql).df()
        assert out["ok"].all(), code
        assert np.abs(out["lon"] - lon).max() < 1e-7, code
        assert np.abs(out["lat"] - lat).max() < 1e-7, code


def test_equal_earth_area_and_anchor_invariants():
    """EPSG:8857 preserves the ellipsoid area element (Jacobian test,
    like LAEA/Albers) and the MODIS sinusoidal x-extent at the equator
    is pi*R (the grid's documented 20015109.354 m half-width)."""
    from gdal_spark.crs import MODIS_SPHERE_R, epsg_fwd_np

    lon = np.array([0.0, 15.0, 120.0, -60.0, 179.0])
    lat = np.array([0.0, 30.0, 60.0, -45.0, 85.0])
    h = 1e-6
    fwd = epsg_fwd_np(8857)
    x0, y0, _ = fwd(lon, lat)
    x1, y1, _ = fwd(lon + h, lat)
    x2, y2, _ = fwd(lon, lat + h)
    jac = ((x1 - x0) * (y2 - y0) - (x2 - x0) * (y1 - y0)) / (h * h)
    a, e2 = 6378137.0, 0.006694380022903416
    s2 = np.sin(np.radians(lat)) ** 2
    m = a * (1 - e2) / (1 - e2 * s2) ** 1.5
    n = a / np.sqrt(1 - e2 * s2)
    expected = (np.pi / 180.0) ** 2 * np.cos(np.radians(lat)) * m * n
    assert np.abs(jac / expected - 1).max() < 1e-4

    x, _, ok = epsg_fwd_np(6842)([180.0], [0.0])
    assert ok.all()
    assert abs(x[0] - np.pi * MODIS_SPHERE_R) < 0.5
    assert abs(x[0] - 20015109.354) < 1.0  # the published MODIS bound


def test_mollweide_anchor_and_area_invariants():
    """ESRI:54009 (spherical on R = a, PROJ +proj=moll semantics):
    Snyder's published numerical example (p.367), the map-extent
    anchors (equator half-width 2*sqrt(2)*R, pole height sqrt(2)*R),
    and the spherical equal-area Jacobian R^2 cos(phi)."""
    from gdal_spark.crs import MOLL_R, epsg_fwd_np, moll_fwd_np

    # Snyder numerical example: R=1, lam0=-90, point (-75, 50)
    x, y, ok = moll_fwd_np([-75.0], [50.0], r=1.0, lon0_deg=-90.0)
    assert ok.all()
    assert abs(x[0] - 0.1788845) < 1e-6
    assert abs(y[0] - 0.9208758) < 1e-6

    fwd = epsg_fwd_np(54009)
    xe, _, _ = fwd([180.0], [0.0])
    _, yp, _ = fwd([0.0], [90.0])
    assert abs(xe[0] - 2.0 * np.sqrt(2.0) * MOLL_R) < 1e-3
    assert abs(yp[0] - np.sqrt(2.0) * MOLL_R) < 1e-3

    lon = np.array([0.0, 15.0, 120.0, -60.0, 179.0])
    lat = np.array([0.0, 30.0, 60.0, -45.0, 85.0])
    h = 1e-6
    x0, y0, _ = fwd(lon, lat)
    x1, y1, _ = fwd(lon + h, lat)
    x2, y2, _ = fwd(lon, lat + h)
    jac = ((x1 - x0) * (y2 - y0) - (x2 - x0) * (y1 - y0)) / (h * h)
    expected = (np.pi / 180.0) ** 2 * np.cos(np.radians(lat)) * MOLL_R ** 2
    assert np.abs(jac / expected - 1).max() < 1e-4
