"""KML (OGC KML 2.2) Placemark ingest — portable SQL builders.

Reference: GDAL's KML/LIBKML drivers (``ogr/ogrsf_frmts/kml/``,
``ogr/ogrsf_frmts/libkml/`` — Placemark name/ExtendedData/Point
parse). The engine-side parse is region splitting + regexp extraction
(the same narrow per-file string work as the WARC reader): KML pages
never shuffle; the one exchange is the synthesis groupBy, which in
production is the upstream writer.

Coordinates are rendered as DECIMAL DEGREE strings built from integer
microdegrees with explicit sign/zero-padding (float-to-string rendering
differs across engines; integer string assembly is bit-portable), and
the parser reconstitutes the microdegree integers exactly.
"""

from __future__ import annotations

SPARK = "spark"
DUCKDB = "duckdb"

KML_FILES = 23  # placemarks group into doc_id % 23 documents


def _dec_deg_sql(mic: str, engine: str) -> str:
    """Integer microdegrees -> decimal-degree string, sign-exact:
    '-12.345600' style (6 fractional digits, zero-padded). Integer
    division and string casts are the two dialect seams."""
    idiv = f"abs({mic}) div 1000000" if engine == SPARK \
        else f"abs({mic}) // 1000000"
    scast = "string" if engine == SPARK else "varchar"
    return (f"concat(case when {mic} < 0 then '-' else '' end,"
            f" {idiv}, '.',"
            f" lpad(cast(abs({mic}) % 1000000 as {scast}), 6, '0'))")


def _parse_mic_sql(s: str) -> str:
    """Inverse of _dec_deg_sql: decimal-degree string -> microdegrees."""
    return (f"(case when substr({s}, 1, 1) = '-' then -1 else 1 end) *"
            f" (cast(split_part(replace({s}, '-', ''), '.', 1) as bigint)"
            f" * 1000000 +"
            f" cast(split_part(replace({s}, '-', ''), '.', 2) as bigint))")


def kml_ingest_sql(engine: str) -> str:
    """Placemark-per-page KML documents (one per doc_id % KML_FILES
    file), parsed back to typed rows: name, the ExtendedData ``cls``
    value, and the exact microdegree coordinates. Output:
    (file_id, name, cls, lon_mic, lat_mic)."""
    from gdal_spark.crs import stages_to_duckdb_sql
    from gdal_spark.pages import synth_stages

    if engine == SPARK:
        agg = ("array_join(transform(array_sort(collect_list("
               "struct(doc_id, pm))), x -> x.pm), '')")
        split_pm = "split(doc, '</Placemark>')"
        explode = "explode(pms)"
    else:
        agg = "string_agg(pm, '' order by doc_id)"
        split_pm = "string_split(doc, '</Placemark>')"
        explode = "unnest(pms)"
    base = "select doc_id from documents"
    inner = stages_to_duckdb_sql(base, synth_stages(),
                                 ["doc_id", "lon_mic", "lat_mic"])
    lon_s = _dec_deg_sql("lon_mic", engine)
    lat_s = _dec_deg_sql("lat_mic", engine)
    coord = "regexp_extract(pm, '<coordinates>([^<]+)</coordinates>', 1)"
    lon_tok = "split_part(coords, ',', 1)"
    lat_tok = "split_part(coords, ',', 2)"
    return f"""
with pts as ({inner}),
pm0 as (
  select doc_id, doc_id % {KML_FILES} as file_id,
         concat('<Placemark><name>p', doc_id, '</name>',
                '<ExtendedData><Data name="cls"><value>', doc_id % 7,
                '</value></Data></ExtendedData>',
                '<Point><coordinates>', {lon_s}, ',', {lat_s},
                ',0</coordinates></Point></Placemark>') as pm
  from pts),
docs as (
  select file_id,
         concat('<?xml version="1.0" encoding="UTF-8"?>',
                '<kml xmlns="http://www.opengis.net/kml/2.2">',
                '<Document>', {agg}, '</Document></kml>') as doc
  from pm0 group by file_id),
frags as (
  select file_id, {explode} as pm
  from (select file_id, {split_pm} as pms from docs) t),
px as (
  select file_id,
         regexp_extract(pm, '<name>([^<]+)</name>', 1) as name,
         cast(regexp_extract(pm,
              '<Data name="cls"><value>([0-9]+)</value>', 1)
              as bigint) as cls,
         {coord} as coords
  from frags where pm like '%<Placemark>%')
select file_id, name, cls,
       cast({_parse_mic_sql(lon_tok)} as bigint) as lon_mic,
       cast({_parse_mic_sql(lat_tok)} as bigint) as lat_mic
from px
"""
