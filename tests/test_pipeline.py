"""End-to-end flagship pipeline + driver-contract queries vs DuckDB oracle.

Mirrors the driver's own verify loop at sf0.001: every queries() entry must
match its oracle_sql() (sorted-column, order-insensitive compare).
"""

import numpy as np
import pytest

import __spark_entry__ as contract
from tests.conftest import SF_SMOKE, compare_frames


def test_entry_smoke(spark):
    df = contract.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {"zone_id", "n_pages"}
    assert all(r.n_pages > 0 for r in rows)


def test_queries_have_oracles():
    q = contract.queries()
    o = contract.oracle_sql()
    missing = set(o) - set(q)
    assert not missing, f"oracle without query: {missing}"


@pytest.mark.parametrize("name", sorted(contract.oracle_sql().keys()))
def test_query_matches_oracle(spark, ddb, name):
    q = contract.queries()[name]
    sql = contract.oracle_sql()[name]
    n = compare_frames(q(spark, SF_SMOKE), ddb, sql)
    assert n > 0, f"{name} produced 0 rows — vacuous"


def test_extraction_byte_identical(spark):
    """The per-row invariant: extracted_text is byte-stable per url across
    runs (and across partitionings)."""
    from gdal_spark.extract import geocode_pages
    from gdal_spark.pages import pages_from_documents

    pages = pages_from_documents(spark, SF_SMOKE)
    a = (geocode_pages(pages).filter("extracted_text is not null")
         .select("url", "extracted_text").toPandas()
         .sort_values("url").reset_index(drop=True))
    b = (geocode_pages(pages.repartition(7)).filter("extracted_text is not null")
         .select("url", "extracted_text").toPandas()
         .sort_values("url").reset_index(drop=True))
    assert a.equals(b)
    assert len(a) > 0
    assert a.extracted_text.str.startswith("geo:").all()


def test_extract_all_three_forms(spark):
    from gdal_spark.extract import extract_geotags_batch
    import pandas as pd

    texts = pd.Series([
        "blah geo:52.5,13.4 blah",
        "x coords=(48.8, 2.35) y",
        'meta "lat": -33.9, "lon": 151.2 end',
        "no geotag here",
        None,
    ])
    out = extract_geotags_batch(texts)
    assert out.extracted_text.tolist()[:3] == [
        "geo:52.5,13.4", "coords=(48.8, 2.35)", '"lat": -33.9, "lon": 151.2']
    assert np.allclose(out.lat[:3], [52.5, 48.8, -33.9])
    assert np.allclose(out.lon[:3], [13.4, 2.35, 151.2])
    assert out.extracted_text[3] is None and out.extracted_text[4] is None


# (text, extracted_text, lat, lon), derived by hand from the rules in
# gdal_spark.extract: the first valid token in form order wins; an
# all-integer token with |lat| > 90 or |lon| > 180 is microdegrees.
NAN = float("nan")
GEOTAG_CASES = [
    # microdegree rescale still out of range → no geotag
    ("geo:999999999999,999", None, NAN, NAN),
    # 91.0 is decimal → no microdegree rescale → out of range
    ("geo:91.0,10.0", None, NAN, NAN),
    ("geo:52500000,13400000", "geo:52500000,13400000", 52.5, 13.4),
    ("geo:-45000000,170000000", "geo:-45000000,170000000", -45.0, 170.0),
    # small integers inside the range are degrees, not microdegrees
    ("geo:45,9", "geo:45,9", 45.0, 9.0),
    # 95 > 90 and both integers → 95 and 5 microdegrees, a valid point,
    # so the later "lat" form is never reached
    ('junk geo:95,5 then "lat": 10.5, "lon": -3.25 tail',
     "geo:95,5", 9.5e-05, 5e-06),
    # 91.5 is decimal and out of range → fall back to the "lat" form
    ('junk geo:91.5,5 then "lat": 10.5, "lon": -3.25 tail',
     '"lat": 10.5, "lon": -3.25', 10.5, -3.25),
    ("coords=(12.5, -7.25)", "coords=(12.5, -7.25)", 12.5, -7.25),
    ("no geotag at all", None, NAN, NAN),
]


def test_extract_rejects_out_of_range(spark):
    import pandas as pd

    from gdal_spark.extract import extract_geotags_batch, geocode_pages

    texts = [c[0] for c in GEOTAG_CASES]
    kernel = extract_geotags_batch(pd.Series(texts))
    udf = geocode_pages(spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "i int, text string")) \
        .orderBy("i").toPandas()
    for out in (kernel, udf):
        for i, (text, ext, lat, lon) in enumerate(GEOTAG_CASES):
            got = (out.extracted_text[i], out.lat[i], out.lon[i])
            assert got[0] == ext, (text, got)
            for g, e in zip(got[1:], (lat, lon)):
                assert (np.isnan(g) and np.isnan(e)) or g == e, (text, got)


def test_pip_join_plan_is_narrow(spark):
    """The PIP join must not shuffle, and only (lon, lat) may cross the
    Python bridge: one Arrow UDF over the two coordinate columns, with
    every other column kept in the JVM."""
    import re

    from gdal_spark.pages import points_from_documents
    from gdal_spark.pip_join import build_zone_index_from_defs, pip_join
    from gdal_spark.zones import zone_defs

    pts = points_from_documents(spark, SF_SMOKE)
    index = build_zone_index_from_defs(zone_defs())
    for how in ("inner", "semi", "anti"):
        joined = pip_join(pts, index, how=how)
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert "MapInPandas" not in plan, plan
        udf_args = re.findall(r"ArrowEvalPython \[\w+\(([^)]*)\)", plan)
        assert len(udf_args) == 1, plan
        assert re.sub(r"#\d+", "", udf_args[0]) == "lon, lat", plan


def test_pip_modes_partition_points(spark):
    """semi (Clip) and anti (Erase) split the points in two, and the
    points semi keeps are exactly those with ≥1 inner pair."""
    from gdal_spark.pages import points_from_documents
    from gdal_spark.pip_join import build_zone_index_from_defs, pip_join
    from gdal_spark.zones import zone_defs

    pts = points_from_documents(spark, SF_SMOKE)
    index = build_zone_index_from_defs(zone_defs())

    def ids(how):
        return [r.doc_id for r in
                pip_join(pts, index, how=how).select("doc_id").collect()]

    inner, semi, anti = ids("inner"), ids("semi"), ids("anti")
    every = [r.doc_id for r in pts.select("doc_id").collect()]
    assert len(every) == len(set(every))
    assert len(semi) == len(set(inner)) > 0
    assert set(semi) == set(inner)
    assert not set(semi) & set(anti)
    assert sorted(semi + anti) == sorted(every)


def test_pip_modes_drop_invalid_points(spark):
    """A point with NULL, NaN or out-of-range lon/lat is neither inside
    nor outside a zone. Zone 1 is the square [0, 10]²: (5, 5) is inside
    it, (20, 5) outside; (NaN, 0), (NULL, NULL) and (200, 10) are
    invalid, so no mode returns them."""
    from gdal_spark.pip_join import build_zone_index_from_defs, pip_join

    square = np.array([[0, 0], [10, 0], [10, 10], [0, 10], [0, 0]], dtype=float)
    index = build_zone_index_from_defs([{"zone_id": 1, "rings": [square]}])
    pts = spark.createDataFrame(
        [(0, float("nan"), 0.0), (1, None, None), (2, 200.0, 10.0),
         (3, 20.0, 5.0), (4, 5.0, 5.0)], "doc_id long, lon double, lat double")

    def rows(how):
        df = pip_join(pts, index, how=how)
        cols = ["doc_id", "zone_id"] if how == "inner" else ["doc_id"]
        return sorted(tuple(r) for r in df.select(*cols).collect())

    assert rows("inner") == [(4, 1)]
    assert rows("semi") == [(4,)]
    assert rows("anti") == [(3,)]


def test_pages_per_zone_large_doc_ids(spark, tmp_path):
    """doc_id ≥ 2·10^9 puts the synthetic warc_ts past pandas'
    nanosecond range (year 2262). The flagship only sends (lon, lat)
    through Python, so it must still count every page."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from gdal_spark.pipeline import pages_per_zone
    from gdal_spark.queries.spatial import ORACLES

    docs = pq.read_table(f"{SF_SMOKE}/documents.parquet")
    ids = pa.array(2_000_000_000 + np.arange(docs.num_rows), pa.int64())
    docs = docs.set_column(docs.schema.get_field_index("doc_id"),
                           "doc_id", ids)
    pq.write_table(docs, tmp_path / "documents.parquet")

    got = sorted((r.zone_id, r.n_pages) for r in
                 pages_per_zone(spark, str(tmp_path)).collect())
    con = duckdb.connect()
    try:
        con.execute("create view documents as select * from read_parquet("
                    f"'{tmp_path}/documents.parquet')")
        exp = sorted((int(z), int(n)) for z, n in
                     con.execute(ORACLES["zonal_count"]).fetchall())
    finally:
        con.close()
    assert got == exp and len(got) > 0


def test_point_coordinates_are_double(spark, ddb):
    """lon/lat are DOUBLE on both engines, so every downstream
    coordinate expression runs in the same float type (a DECIMAL lon
    made Spark run decimal arithmetic where DuckDB runs double)."""
    from gdal_spark.pages import points_from_documents, points_oracle_sql

    types = dict(points_from_documents(spark, SF_SMOKE).dtypes)
    assert (types["lon"], types["lat"]) == ("double", "double")
    rel = ddb.sql(points_oracle_sql())
    duck = dict(zip(rel.columns, (str(t) for t in rel.types)))
    assert (duck["lon"], duck["lat"]) == ("DOUBLE", "DOUBLE")


def test_synth_stages_doc_id_overflow_raises(spark, tmp_path):
    """doc_id · 2654435761 leaves int64 once doc_id > ~3.47e9: both
    engines raise instead of returning rows — not even the valid
    doc_id 7 next to doc_id 4e9 comes back."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from gdal_spark.pages import points_from_documents, points_oracle_sql

    pq.write_table(pa.table({
        "doc_id": pa.array([7, 4_000_000_000], pa.int64()),
        "text": ["a", "b"], "lang": ["en", "en"]}),
        tmp_path / "documents.parquet")
    rows = None
    with pytest.raises(Exception, match="ARITHMETIC_OVERFLOW") as err:
        rows = points_from_documents(spark, str(tmp_path),
                                     geotagged_only=False).collect()
    assert "2654435761" in str(err.value) and rows is None
    con = duckdb.connect()
    try:
        con.execute("create view documents as select * from read_parquet("
                    f"'{tmp_path}/documents.parquet')")
        with pytest.raises(duckdb.OutOfRangeException):
            rows = con.execute(
                points_oracle_sql(geotagged_only=False)).fetchall()
    finally:
        con.close()
    assert rows is None


def test_page_layer_plans_launch_no_job(spark):
    """Building the page tables and the flagship query reads the
    documents schema from the parquet footer, not with an inference
    job; collecting the flagship on sf0.01 is then its scan-and-UDF job
    plus the aggregate's."""
    from gdal_spark import pipeline
    from gdal_spark.pages import pages_from_documents, points_from_documents
    from tests.conftest import SF_CORRECT, jobs_launched

    sc = spark.sparkContext
    for name, build in (("pages", pages_from_documents),
                        ("points", points_from_documents),
                        ("zonal", pipeline.pages_per_zone)):
        _, jobs = jobs_launched(sc, f"plan-{name}",
                                lambda: build(spark, SF_CORRECT))
        assert jobs == [], name
    rows, jobs = jobs_launched(
        sc, "zonal-collect",
        lambda: pipeline.pages_per_zone(spark, SF_CORRECT).collect())
    assert rows and len(jobs) <= 2, jobs


def test_page_tables_keep_columns_types_and_rows(spark):
    """pages_from_documents and points_from_documents on sf0.01: the
    same columns in the same order and types, lon/lat DOUBLE, and the
    rows of the shared SQL run by DuckDB."""
    import duckdb

    from gdal_spark.crs import stages_to_duckdb_sql
    from gdal_spark.pages import (geotag_text_sql, pages_from_documents,
                                  points_from_documents, points_oracle_sql,
                                  synth_stages)
    from tests.conftest import SF_CORRECT

    pages = pages_from_documents(spark, SF_CORRECT)
    assert pages.dtypes == [
        ("url", "string"), ("warc_ts", "timestamp"), ("html", "binary"),
        ("text", "string"), ("lang", "string"), ("doc_id", "bigint")]
    points = points_from_documents(spark, SF_CORRECT)
    assert points.dtypes == [
        ("doc_id", "bigint"), ("lon", "double"), ("lat", "double"),
        ("lang", "string"), ("lon_mic", "bigint"), ("lat_mic", "bigint")]

    con = duckdb.connect()
    try:
        con.execute("create view documents as select * from read_parquet("
                    f"'{SF_CORRECT}/documents.parquet')")
        assert compare_frames(points, con, points_oracle_sql()) > 0
        gtext = stages_to_duckdb_sql(
            "select doc_id, text, lang from documents",
            synth_stages() + [("gtext", geotag_text_sql())],
            ["doc_id", "lang", "gtext"])
        want = sorted(con.execute(
            "select concat('https://site', doc_id % 100, '.example/p/',"
            " doc_id), 1735689600 + doc_id * 7,"
            " encode(concat('<html><body><p>', gtext, '</p></body></html>')),"
            f" gtext, lang, doc_id from ({gtext}) g").fetchall())
    finally:
        con.close()
    got = sorted(
        (r.url, r.ts, bytes(r.html), r.text, r.lang, r.doc_id)
        for r in pages.selectExpr("url", "unix_seconds(warc_ts) as ts",
                                  "html", "text", "lang",
                                  "doc_id").collect())
    assert got == want and len(got) == 500


def test_pip_join_reuses_one_broadcast(spark):
    """Every pip_join with one index shares one broadcast: the driver
    keeps a pickled file per broadcast until the context stops."""
    import os

    from gdal_spark.pip_join import build_zone_index_from_defs, pip_join
    from gdal_spark.zones import zone_defs

    index = build_zone_index_from_defs(zone_defs())
    pts = spark.createDataFrame([(1.0, 2.0)], "lon double, lat double")
    tmp = spark.sparkContext._temp_dir
    before = len(os.listdir(tmp))
    for how in ("inner", "semi", "anti", "inner", "semi") * 2:
        pip_join(pts, index, how=how)
    assert len(os.listdir(tmp)) - before <= 1
