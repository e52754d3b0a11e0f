"""Geotag extraction from page text — vectorized Arrow UDF stage.

The geocoding front of the pipeline (north star: "pages are geocoded —
extracted coordinates/geotags from text via vectorized Arrow UDFs, with
byte-identical extracted text per url"). The reference precedent is OGR's
geocoding SQL functions (ogr_geocode / ogr_geocode_reverse,
ogr/ogrsf_frmts/sqlite/ogrsqlitesqlfunctions.cpp:268,383) — there a network
geocoder with a local cache; here a deterministic regex extractor, because
determinism *is* the contract (byte-identical `extracted_text` per url).

Three geotag token forms are recognized (FIXTURES.md §1):
  1. ``geo:{lat},{lon}``          (geo-URI style; also integer-microdegree
                                   variant ``geo:{lat_mic},{lon_mic}``)
  2. ``coords=({lat}, {lon})``
  3. ``"lat": {lat}, "lon": {lon}``

The extractor returns the first match in form-priority order; per-row output
is (extracted_text, lat, lon) where extracted_text is the exact matched
substring (byte-stable) and lat/lon are parsed floats. Integer lat values
|v| > 90 are interpreted as microdegrees (the synthetic geotag encoding).
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (DoubleType, StringType, StructField, StructType)

_NUM = r"[+-]?\d+(?:\.\d+)?"
PATTERNS = (
    re.compile(rf"geo:({_NUM}),({_NUM})"),
    re.compile(rf"coords=\(({_NUM}), ({_NUM})\)"),
    re.compile(rf'"lat": ({_NUM}), "lon": ({_NUM})'),
)

EXTRACT_SCHEMA = StructType([
    StructField("extracted_text", StringType()),
    StructField("lat", DoubleType()),
    StructField("lon", DoubleType()),
])


def extract_geotags_batch(texts: pd.Series) -> pd.DataFrame:
    """Pure pandas/numpy kernel: one Arrow batch of page texts in,
    (extracted_text, lat, lon) out. NaN/None rows where no geotag."""
    ext = np.full(len(texts), None, dtype=object)
    lat = np.full(len(texts), np.nan)
    lon = np.full(len(texts), np.nan)
    vals = texts.to_numpy(dtype=object)
    for i, t in enumerate(vals):
        if t is None:
            continue
        for pat in PATTERNS:
            m = pat.search(t)
            if m:
                a = float(m.group(1))
                b = float(m.group(2))
                if (abs(a) > 90.0 or abs(b) > 180.0) and \
                        "." not in m.group(1) and "." not in m.group(2):
                    # integer-microdegree encoding (divide, don't multiply
                    # by 1e-6: x/1e6 and x*1e-6 differ in the last ulp and
                    # the per-row invariant is bit-exactness)
                    a /= 1e6
                    b /= 1e6
                if abs(a) > 90.0 or abs(b) > 180.0:
                    continue  # not a coordinate — keep scanning other forms
                ext[i] = m.group(0)
                lat[i] = a
                lon[i] = b
                break
    return pd.DataFrame({"extracted_text": ext, "lat": lat, "lon": lon})


# asNondeterministic is a *planning* marker, not a semantic one: the
# kernel is pure, but without it Catalyst pushes `lat IS NOT NULL` below
# the projection and plans the UDF twice (once under the filter, once
# for the output columns) — double extraction work per page.
_extract_udf = F.pandas_udf(extract_geotags_batch,
                            EXTRACT_SCHEMA).asNondeterministic()


def geocode_pages(pages: DataFrame, text_col: str = "text") -> DataFrame:
    """pages → pages + (extracted_text, lat, lon); rows without a geotag
    keep NULL coordinates (caller filters or left-joins as needed)."""
    out = pages.withColumn("_g", _extract_udf(F.col(text_col)))
    return (
        out.withColumn("extracted_text", F.col("_g.extracted_text"))
        .withColumn("lat", F.col("_g.lat"))
        .withColumn("lon", F.col("_g.lon"))
        .drop("_g")
    )

