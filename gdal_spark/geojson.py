"""GeoJSON (RFC 7946) feature ingest — portable SQL builders.

Reference: GDAL's GeoJSON driver (``ogr/ogrsf_frmts/geojson/``,
``ogrgeojsonreader.cpp`` — feature-per-object parse of type/properties/
geometry) — the most common text vector format a GDAL user reads. Here
the parse is JSON-path extraction native to each engine
(``get_json_object`` in Spark, ``json_extract_string`` in DuckDB), so
the scan stays JVM-side / vectorized with zero Python.

Synthesis renders coordinates as INTEGER microdegrees inside the JSON
text (float-to-string rendering differs across engines; integers are
bit-portable), and the parser derives the double view after extraction.
Features alternate Point and 4-vertex rectangle Polygon; the polygon
lane re-derives the ring's shoelace area from the extracted vertices —
a real geometry computation over parsed JSON, checked closed-form.

Scale shape: narrow projection over the feature strings — JSON pages
never shuffle; at 100 TB this is scan-bound exactly like the reference's
streaming parse.
"""

from __future__ import annotations

SPARK = "spark"
DUCKDB = "duckdb"


def _jstr(js: str, path: str, engine: str) -> str:
    """Extract a JSON string/scalar at path as text."""
    if engine == SPARK:
        return f"get_json_object({js}, '{path}')"
    return f"json_extract_string({js}, '{path}')"


def _jint(js: str, path: str, engine: str) -> str:
    return f"cast({_jstr(js, path, engine)} as bigint)"


def geojson_feature_sql() -> str:
    """Shared ANSI: one GeoJSON Feature string per page — Points for
    doc_id % 3 != 0, rectangle Polygons otherwise (ring closed, CCW,
    integer-microdegree vertices; width/height are doc-derived)."""
    lon, lat = "lon_mic", "lat_mic"
    w, h = "(10000 + (doc_id % 50) * 1000)", \
        "(8000 + (doc_id % 30) * 1000)"
    point = (f"concat('{{\"type\":\"Point\",\"coordinates\":[',"
             f" {lon}, ',', {lat}, ']}}')")
    ring = (f"concat('[[', {lon}, ',', {lat}, '],"
            f"[', {lon} + {w}, ',', {lat}, '],"
            f"[', {lon} + {w}, ',', {lat} + {h}, '],"
            f"[', {lon}, ',', {lat} + {h}, '],"
            f"[', {lon}, ',', {lat}, ']]')")
    poly = (f"concat('{{\"type\":\"Polygon\",\"coordinates\":[',"
            f" {ring}, ']}}')")
    geom = f"case when doc_id % 3 = 0 then {poly} else {point} end"
    return (f"concat('{{\"type\":\"Feature\",\"properties\":"
            f"{{\"name\":\"p', doc_id, '\",\"cls\":', doc_id % 7,"
            f" '}},\"geometry\":', {geom}, '}}')")


def geojson_ingest_sql(engine: str) -> str:
    """Parse the synthesized Feature strings back into typed rows:
    geometry type, properties (name, cls), the representative point
    (Points: the coordinate; Polygons: vertex 0), the ring vertex
    count, and the shoelace area recomputed from the four extracted
    vertices (microdeg² / 1e12 → deg²). Engine-native JSON paths; no
    Python; zero shuffles."""
    from gdal_spark.crs import stages_to_duckdb_sql
    from gdal_spark.pages import synth_stages

    base = "select doc_id from documents"
    inner = stages_to_duckdb_sql(base, synth_stages(),
                                 ["doc_id", "lon_mic", "lat_mic"])
    js = "feature"
    gtyp = _jstr(js, "$.geometry.type", engine)
    name = _jstr(js, "$.properties.name", engine)
    cls = _jint(js, "$.properties.cls", engine)

    def vx(i: int) -> str:
        return _jint(js, f"$.geometry.coordinates[0][{i}][0]", engine)

    def vy(i: int) -> str:
        return _jint(js, f"$.geometry.coordinates[0][{i}][1]", engine)

    # shoelace over the 4 distinct vertices (vertex 4 closes the ring)
    shoelace = " + ".join(
        f"({vx(i)} * {vy((i + 1) % 4)} - {vx((i + 1) % 4)} * {vy(i)})"
        for i in range(4))
    px = _jint(js, "$.geometry.coordinates[0]", engine)
    py = _jint(js, "$.geometry.coordinates[1]", engine)
    if engine == SPARK:
        nvert = f"json_array_length({_jstr(js, '$.geometry.coordinates[0]', engine)})"
    else:
        nvert = f"json_array_length({js}, '$.geometry.coordinates[0]')"
    return f"""
with pts as ({inner}),
f as (
  select doc_id, {geojson_feature_sql()} as feature from pts)
select doc_id,
       {gtyp} as gtype,
       {name} as name,
       {cls} as cls,
       case when {gtyp} = 'Point' then {px} else {vx(0)} end as x0_mic,
       case when {gtyp} = 'Point' then {py} else {vy(0)} end as y0_mic,
       cast(case when {gtyp} = 'Polygon' then {nvert}
            else 0 end as bigint) as n_vertices,
       cast(case when {gtyp} = 'Polygon'
            then abs({shoelace}) / 2.0 / 1000000000000.0
            else 0.0 end as double) as area_deg2
from f
"""
