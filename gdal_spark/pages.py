"""Deterministic Common-Crawl-style pages synthesis over ``documents``.

The driver provides a ``documents`` table (doc_id, text, lang, source,
n_chars). The engine's input contract (BASELINE.json input_hint) is a pages
table (url, warc_ts, html, text, lang). This module derives that shape
deterministically from ``documents`` using **integer-only arithmetic**, so
the exact same derivation is expressible in Spark SQL and in the DuckDB
oracle — every downstream spatial result is bit-reproducible cross-engine.

The coordinate mixture matches FIXTURES.md §1: ~80% of geotagged pages
cluster in 20 city hotspots (power-law hot cells → exercises skew
handling), ~20% uniform world. ~60% of pages carry a geotag embedded in
the text in the form ``geo:<lat_microdeg>,<lon_microdeg>`` (integers, so
string rendering is identical across engines).

Plan building is driver time on every call, so each table is built in
few plan steps: the documents schema comes from the parquet footer, read
on the driver (`read_documents`, no schema-inference job), and the
synth stages are one ``selectExpr`` in which each stage names the ones
before it as lateral column aliases, over the unchanged `synth_stages`
text the DuckDB oracle also runs. Chained ``withColumn`` calls re-analyse
the growing plan once per stage (0.17-0.29 s of a ~1 s warm
``zonal_pages`` job on a 4-core host).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from gdal_spark.checkpoint import read_parquet

HASH_MULT = 2654435761  # Knuth multiplicative hash
HASH_MOD = 1000000007


def synth_stages() -> list[tuple[str, str]]:
    """Staged shared-SQL derivation of (has_geo, lat_mic, lon_mic, lon, lat).

    lat_mic/lon_mic are integer microdegrees; lon/lat the float view,
    DOUBLE in both engines (``1e6`` is a double literal in Spark SQL and
    DuckDB; ``1000000.0`` would make Spark's lon a DECIMAL). Valid in
    both Spark SQL and DuckDB.
    """
    return [
        ("_h1", f"(doc_id * {HASH_MULT}) % {HASH_MOD}"),
        ("has_geo", "(_h1 % 100) < 60"),
        ("_hot", "(_h1 % 10) < 8"),
        ("_city", "_h1 % 20"),
        # city centers: lon in [-175, 175), lat in [-60, 60) degrees
        ("_clon", "(-175 + ((_city * 77) % 350)) * 1000000"),
        ("_clat", "(-60 + ((_city * 131) % 120)) * 1000000"),
        ("_dlon", "((doc_id * 40503) % 2000001) - 1000000"),
        ("_dlat", "((doc_id * 69621) % 1400001) - 700000"),
        ("_ulon", "((_h1 * 97) % 360000001) - 180000000"),
        ("_ulat", "((_h1 * 89) % 160000001) - 80000000"),
        ("lon_mic", "case when _hot then _clon + _dlon else _ulon end"),
        ("lat_mic", "case when _hot then _clat + _dlat else _ulat end"),
        ("lon", "lon_mic / 1e6"),
        ("lat", "lat_mic / 1e6"),
    ]


def geotag_text_sql() -> str:
    """Embed the geotag token inside the document text (shared SQL)."""
    return (
        "case when has_geo then concat(substr(text, 1, 40), ' geo:',"
        " lat_mic, ',', lon_mic, ' ', substr(text, 41))"
        " else text end"
    )


def read_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``documents`` table, its schema read from the parquet footer
    on the driver (no schema-inference job)."""
    return read_parquet(spark, f"{sf_dir}/documents.parquet")


def _staged_documents(spark: SparkSession, sf_dir: str,
                      *extra: tuple[str, str]) -> DataFrame:
    """documents with the synth_stages columns, then ``extra`` stages,
    added (JVM-only math) in one projection: a stage names the ones
    before it as lateral column aliases, so the plan is analysed once,
    not once per stage."""
    stages = [*synth_stages(), *extra]
    return read_documents(spark, sf_dir).selectExpr(
        "*", *(f"{expr} as {name}" for name, expr in stages))


def points_from_documents(spark: SparkSession, sf_dir: str,
                          geotagged_only: bool = True) -> DataFrame:
    """documents → (doc_id, lon, lat, lang) point table (JVM-only math)."""
    df = _staged_documents(spark, sf_dir)
    if geotagged_only:
        df = df.filter("has_geo")
    return df.select("doc_id", "lon", "lat", "lang", "lon_mic", "lat_mic")


def pages_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → full pages shape (url, warc_ts, html, text, lang).

    This is the input-contract adapter: downstream operators only see the
    pages schema from BASELINE.json input_hint.
    """
    return _staged_documents(
        spark, sf_dir, ("_text", geotag_text_sql()),
    ).selectExpr(
        "concat('https://site', doc_id % 100, '.example/p/', doc_id) as url",
        "timestamp_seconds(1735689600 + doc_id * 7) as warc_ts",
        "encode(concat('<html><body><p>', _text, '</p></body></html>'),"
        " 'utf-8') as html",
        "_text as text",
        "lang",
        "doc_id",
    )


def points_oracle_sql(doc_view: str = "documents",
                      geotagged_only: bool = True) -> str:
    """DuckDB SQL producing the identical point table."""
    from gdal_spark.crs import stages_to_duckdb_sql

    base = f"select doc_id, lang from {doc_view}"
    where = "where has_geo" if geotagged_only else ""
    inner = stages_to_duckdb_sql(
        base, synth_stages(),
        ["doc_id", "lang", "has_geo", "lon", "lat", "lon_mic", "lat_mic"],
    )
    return f"select doc_id, lon, lat, lang, lon_mic, lat_mic from ({inner}) p {where}"
