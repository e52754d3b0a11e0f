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
