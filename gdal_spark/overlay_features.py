"""General (non-convex, holed) polygon overlay with feature output.

Extends the convex candidate-vertex overlay (gdal_spark.layer_algebra) to
arbitrary even-odd polygons — the full OGR layer-algebra Intersection
surface (ogr/ogrsf_frmts/generic/ogrlayer.cpp:3345; result schema with
``input_``/``method_`` prefixed attributes :3077; feature sets tested by
autotest/ogr/ogr_layer_algebra.py) — via **trapezoidal decomposition**:

1. every polygon splits into vertical-slab trapezoids (x-sweep through
   all vertex abscissae; within a slab the crossing edge segments pair up
   even-odd). Trapezoids are convex, interior-disjoint, cover the polygon
   exactly — non-convexity and holes are handled uniformly by the parity
   pairing. (The sweep mirrors the scanline decomposition GDAL's own
   rasterizer uses, alg/llrasterize.cpp.)
2. candidate (trapA, trapB) pairs get the *existing* convex overlay: the
   shared-SQL candidate-vertex intersection (bit-exact in both engines)
   for areas/counts, and the numpy Sutherland–Hodgman clip for the piece
   geometry (WKB features).
3. per (input, method) pair the piece areas fold in sorted trap-pair
   order (never an unordered SQL SUM of doubles), so the aggregated
   intersection area is bit-identical cross-engine; n_pieces counts the
   positive-area pieces.

The contract query hashes the aggregate columns; the piece geometries are
the API surface (`intersection_features`), asserted in tests with the
exact predicate suite (every piece within both inputs, areas reconciled).

Scale: decomposition is a narrow per-feature map (O(V log V) each);
trap×trap candidates come from a bbox/cell equi-join; the per-pair math
is the equi-join + groupBy pattern of the convex overlay. Nothing here is
quadratic in the layer sizes.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gdal_spark import geom as G
from gdal_spark import wkb as W
from gdal_spark.layer_algebra import (DUCKDB, SPARK, clip_convex_np,
                                      overlay_areas_sql)

TRAP_KEY = 1000  # trap id = zone_id * TRAP_KEY + k

CELL_DEG = 1.0  # coarse candidate-cell size (degrees) for the prejoin


def _with_cover_cells(df: DataFrame, prefix: str) -> DataFrame:
    """Explode each row to the integer (cx, cy) grid cells its bbox
    covers at CELL_DEG resolution — the equi-join key of the candidate
    prejoin (same staged-filter pattern as gdal_spark.pip_join: cell
    equi-join first, exact test second; GDAL's SetSpatialFilter bbox
    stage, ogrlayer.cpp:2136). Expects {prefix}minx/... bbox columns."""
    p = prefix
    return df.withColumn("cell", F.expr(
        f"explode(flatten(transform("
        f" sequence(cast(floor({p}minx / {CELL_DEG}) as int),"
        f"          cast(floor({p}maxx / {CELL_DEG}) as int)),"
        f" cx -> transform("
        f"   sequence(cast(floor({p}miny / {CELL_DEG}) as int),"
        f"            cast(floor({p}maxy / {CELL_DEG}) as int)),"
        f"   cy -> struct(cx, cy)))))"))


def trapezoid_decompose(rings: list[np.ndarray]) -> list[np.ndarray]:
    """Vertical-slab trapezoids of an even-odd polygon (rings closed).
    Returns closed CCW quadrilateral rings (possibly triangles when two
    corners coincide); they are interior-disjoint and their areas sum to
    the polygon area."""
    edges = []
    xs = set()
    for ring in rings:
        r = np.asarray(ring, dtype=np.float64)
        for i in range(len(r) - 1):
            x0, y0 = float(r[i, 0]), float(r[i, 1])
            x1, y1 = float(r[i + 1, 0]), float(r[i + 1, 1])
            xs.add(x0)
            xs.add(x1)
            if x0 != x1:
                edges.append((x0, y0, x1, y1))
    cuts = sorted(xs)
    traps: list[np.ndarray] = []
    for xl, xr in zip(cuts[:-1], cuts[1:]):
        if xr <= xl:
            continue
        segs = []
        for x0, y0, x1, y1 in edges:
            lo, hi = (x0, x1) if x0 < x1 else (x1, x0)
            if lo <= xl and hi >= xr:
                t_l = (xl - x0) / (x1 - x0)
                t_r = (xr - x0) / (x1 - x0)
                yl = y0 + t_l * (y1 - y0)
                yr = y0 + t_r * (y1 - y0)
                segs.append((yl, yr))
        segs.sort(key=lambda s: (s[0] + s[1]))
        for k in range(0, len(segs) - 1, 2):
            (yal, yar), (ybl, ybr) = segs[k], segs[k + 1]
            pts = [(xl, yal), (xr, yar), (xr, ybr), (xl, ybl)]
            dedup = [p for i, p in enumerate(pts)
                     if p != pts[(i - 1) % len(pts)]]
            if len(dedup) < 3:
                continue
            ring = np.asarray(dedup + dedup[:1], dtype=np.float64)
            if abs(G.ring_area(ring)) <= 0.0:
                continue
            if G.ring_area(ring) < 0:
                ring = ring[::-1]
            traps.append(ring)
    return traps


def trap_defs(defs: list[dict]) -> list[dict]:
    """Zone defs → trapezoid sub-defs (zone_id·TRAP_KEY + k), vertices
    re-rounded to 9 decimals so both engines receive identical literals."""
    out = []
    for z in defs:
        for k, trap in enumerate(trapezoid_decompose(z["rings"])):
            out.append({"zone_id": z["zone_id"] * TRAP_KEY + k,
                        "eas_id": z.get("eas_id", 0),
                        "rings": [np.round(trap, 9)]})
    return out


def intersection_agg_sql(defs_a: list[dict], defs_b: list[dict],
                         engine: str) -> str:
    """Per (input, method) pair: n_pieces and the intersection area as an
    ordered fold over the trap-pair piece areas (shared SQL, bit-exact).
    Input areas are layer literals; union/erase derive by
    inclusion-exclusion (the pieces partition A∩B)."""
    base = overlay_areas_sql(trap_defs(defs_a), trap_defs(defs_b), engine)
    div = "div" if engine == SPARK else "//"
    if engine == SPARK:
        packed = "array_sort(collect_list(struct(za_t, zb_t, inter_area)))"
        fold = ("aggregate(transform(arr, s -> s.inter_area),"
                " cast(0 as double), (s, v) -> s + v)")
    else:
        packed = ("list_sort(list({'za_t': za_t, 'zb_t': zb_t,"
                  " 'ia': inter_area}))")
        fold = ("list_reduce(list_concat([cast(0 as double)],"
                " list_transform(arr, s -> s.ia)), (s, v) -> s + v)")
    from gdal_spark.layer_algebra import _fmt

    areas_a = {z["zone_id"]: _fmt(G.polygon_area(z["rings"]))
               for z in defs_a}
    areas_b = {z["zone_id"]: _fmt(G.polygon_area(z["rings"]))
               for z in defs_b}
    eas_a = {z["zone_id"]: z.get("eas_id", 0) for z in defs_a}
    eas_b = {z["zone_id"]: z.get("eas_id", 0) for z in defs_b}

    def lut(m: dict, col: str) -> str:
        pairs = " ".join(f"when {k} then {v}" for k, v in m.items())
        return f"(case {col} {pairs} else 0 end)"

    return f"""
with tp as ({base}),
agg as (
  select zone_a {div} {TRAP_KEY} as zone_a, zone_b {div} {TRAP_KEY} as zone_b,
         cast(sum(case when inter_area > 0 then 1 else 0 end) as bigint)
           as n_pieces,
         {packed} as arr
  from (select zone_a as za_t, zone_b as zb_t, inter_area,
               zone_a, zone_b from tp) q
  group by 1, 2
)
select zone_a, zone_b,
       cast({lut(eas_a, 'zone_a')} as bigint) as input_eas_id,
       cast({lut(eas_b, 'zone_b')} as bigint) as method_eas_id,
       {lut(areas_a, 'zone_a')} as input_area,
       {lut(areas_b, 'zone_b')} as method_area,
       n_pieces,
       {fold} as inter_area,
       {lut(areas_a, 'zone_a')} + {lut(areas_b, 'zone_b')} - {fold}
         as union_area,
       {lut(areas_a, 'zone_a')} - {fold} as erase_a_area
from agg
where n_pieces > 0
"""


def intersection_agg(spark: SparkSession, defs_a: list[dict],
                     defs_b: list[dict]) -> DataFrame:
    return spark.sql(intersection_agg_sql(defs_a, defs_b, SPARK))


# ---------------------------------------------------------------------------
# Feature output: WKB intersection pieces with prefixed attributes
# ---------------------------------------------------------------------------


def intersection_features(spark: SparkSession, defs_a: list[dict],
                          defs_b: list[dict]) -> DataFrame:
    """One feature per (input, method) pair that intersects: MultiPolygon
    WKB of the trapezoid-pair pieces + ``input_``/``method_`` prefixed
    attributes (ogrlayer.cpp:3077 schema rule). Candidates via a bbox
    equi-prejoin on trap rows; clipping is Sutherland–Hodgman per convex
    pair inside a grouped pandas kernel."""
    rows_a = [(t["zone_id"], t["zone_id"] // TRAP_KEY, int(t["eas_id"]),
               [list(map(float, p)) for p in t["rings"][0]])
              for t in trap_defs(defs_a)]
    rows_b = [(t["zone_id"], t["zone_id"] // TRAP_KEY, int(t["eas_id"]),
               [list(map(float, p)) for p in t["rings"][0]])
              for t in trap_defs(defs_b)]
    a = spark.createDataFrame(
        rows_a, "trap_a int, input_zone int, input_eas_id int,"
                " ring_a array<array<double>>")
    b = spark.createDataFrame(
        rows_b, "trap_b int, method_zone int, method_eas_id int,"
                " ring_b array<array<double>>")

    def bbox(df: DataFrame, ring: str, p: str) -> DataFrame:
        return (df
                .withColumn(f"{p}minx", F.expr(
                    f"array_min(transform({ring}, q -> q[0]))"))
                .withColumn(f"{p}maxx", F.expr(
                    f"array_max(transform({ring}, q -> q[0]))"))
                .withColumn(f"{p}miny", F.expr(
                    f"array_min(transform({ring}, q -> q[1]))"))
                .withColumn(f"{p}maxy", F.expr(
                    f"array_max(transform({ring}, q -> q[1]))")))

    cand = (
        _with_cover_cells(bbox(a, "ring_a", "a"), "a").join(
            _with_cover_cells(bbox(b, "ring_b", "b"), "b"), "cell")
        .filter(F.expr("aminx <= bmaxx and bminx <= amaxx"
                       " and aminy <= bmaxy and bminy <= amaxy"))
        .dropDuplicates(["trap_a", "trap_b"])
        .select("input_zone", "input_eas_id", "method_zone",
                "method_eas_id", "ring_a", "ring_b")
    )

    def clip_group(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        pieces = []
        for _, r in pdf.iterrows():
            sub = np.asarray(list(r["ring_a"]), dtype=np.float64)
            clip = np.asarray(list(r["ring_b"]), dtype=np.float64)
            out = clip_convex_np(sub, clip)
            if len(out) >= 4 and abs(G.ring_area(out)) > 0.0:
                pieces.append(out)
        if not pieces:
            return pd.DataFrame(columns=["input_zone", "input_eas_id",
                                         "method_zone", "method_eas_id",
                                         "n_pieces", "geom"])
        geom = W.dumps_multi(
            "MultiPolygon",
            [W.dumps_polygon([p.tolist()]) for p in pieces])
        return pd.DataFrame({
            "input_zone": [int(key[0])], "input_eas_id": [int(pdf["input_eas_id"].iloc[0])],
            "method_zone": [int(key[1])],
            "method_eas_id": [int(pdf["method_eas_id"].iloc[0])],
            "n_pieces": [len(pieces)],
            "geom": [bytearray(geom)],
        })

    return cand.groupBy("input_zone", "method_zone").applyInPandas(
        clip_group,
        "input_zone int, input_eas_id int, method_zone int,"
        " method_eas_id int, n_pieces long, geom binary")


def erase_features(spark: SparkSession, defs_a: list[dict],
                   defs_b: list[dict]) -> DataFrame:
    """Layer-algebra Erase with GEOMETRY output (ogrlayer.cpp:5806
    OGRLayer::Erase): one feature per input polygon with the leftover
    region input − union(method) as interior-disjoint trapezoid
    MultiPolygon WKB. The method layer may overlap itself: candidates
    are union-folded first (union_fold — the union-the-method-layer
    step GDAL performs), so the subtrahend is exact.

    Plan shape: bbox equi-prejoin → groupBy(input zone) → union fold +
    one boolean_pair('difference') per input feature inside a grouped
    pandas kernel. Inputs with no candidate method polygon pass through
    whole.
    """
    from gdal_spark.constructive import boolean_pair

    rows_a = [(z["zone_id"], int(z.get("eas_id", 0)),
               [[list(map(float, p)) for p in r] for r in z["rings"]])
              for z in defs_a]
    rows_b = [(z["zone_id"],
               [[list(map(float, p)) for p in r] for r in z["rings"]])
              for z in defs_b]
    a = spark.createDataFrame(
        rows_a, "input_zone int, input_eas_id int,"
                " rings_a array<array<array<double>>>")
    b = spark.createDataFrame(
        rows_b, "method_zone int, rings_b array<array<array<double>>>")

    def bbox(df: DataFrame, rings: str, p: str) -> DataFrame:
        flat = f"flatten({rings})"
        return (df
                .withColumn(f"{p}minx", F.expr(
                    f"array_min(transform({flat}, q -> q[0]))"))
                .withColumn(f"{p}maxx", F.expr(
                    f"array_max(transform({flat}, q -> q[0]))"))
                .withColumn(f"{p}miny", F.expr(
                    f"array_min(transform({flat}, q -> q[1]))"))
                .withColumn(f"{p}maxy", F.expr(
                    f"array_max(transform({flat}, q -> q[1]))")))

    pairs = (
        _with_cover_cells(bbox(a, "rings_a", "a"), "a")
        .select("input_zone", "cell", "aminx", "amaxx", "aminy", "amaxy")
        .join(_with_cover_cells(bbox(b, "rings_b", "b"), "b")
              .select("method_zone", "cell",
                      "bminx", "bmaxx", "bminy", "bmaxy"), "cell")
        .filter(F.expr("aminx <= bmaxx and bminx <= amaxx"
                       " and aminy <= bmaxy and bminy <= amaxy"))
        .select("input_zone", "method_zone").distinct()
    )
    cand = (
        a.join(pairs, "input_zone", "left")
        .join(b, "method_zone", "left")
        .select("input_zone", "input_eas_id", "rings_a", "rings_b")
    )

    def erase_group(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        rings_a = [np.asarray([list(p) for p in r], dtype=np.float64)
                   for r in pdf["rings_a"].iloc[0]]
        # union-the-method-layer-first (GDAL Erase semantics): a
        # sequential union_pair fold makes the subtrahend exact even
        # when method polygons overlap each other
        ring_sets = [
            [np.asarray([list(p) for p in r], dtype=np.float64)
             for r in rb]
            for rb in pdf["rings_b"] if rb is not None
        ]
        sub = union_fold(ring_sets)
        traps = (boolean_pair(rings_a, sub, "difference")
                 if sub else trapezoid_decompose(rings_a))
        traps = [t for t in traps if abs(G.ring_area(t)) > 0.0]
        area = 0.0
        for t in traps:  # ordered fold (exactness stance)
            area += abs(G.ring_area(t))
        geom = W.dumps_multi(
            "MultiPolygon", [W.dumps_polygon([t.tolist()]) for t in traps])
        return pd.DataFrame({
            "input_zone": [int(key[0])],
            "input_eas_id": [int(pdf["input_eas_id"].iloc[0])],
            "n_pieces": [len(traps)],
            "erased_area": [area],
            "geom": [bytearray(geom)],
        })

    return cand.groupBy("input_zone").applyInPandas(
        erase_group,
        "input_zone int, input_eas_id int, n_pieces long,"
        " erased_area double, geom binary")


def union_fold(ring_sets: list[list[np.ndarray]]) -> list[np.ndarray]:
    """Exact union of many polygons as interior-disjoint trapezoids: a
    sequential union_pair fold (the trapezoid output of one step is a
    valid even-odd ring set for the next) — the union-the-method-layer
    step GDAL's Erase/Update perform before subtracting
    (ogrlayer.cpp:5806). Handles OVERLAPPING members exactly."""
    from gdal_spark.constructive import union_pair

    if not ring_sets:
        return []
    acc = list(ring_sets[0])
    for rs in ring_sets[1:]:
        acc = union_pair(acc, rs)
    return acc


def union_features(spark: SparkSession, defs_a: list[dict],
                   defs_b: list[dict]) -> DataFrame:
    """Layer-algebra Union with GEOMETRY output (ogrlayer.cpp:3763):
    the three feature classes GDAL emits — one per intersecting
    (input, method) pair, one leftover per input feature (method attrs
    NULL), one leftover per method feature (input attrs NULL) — with
    the ogrlayer.cpp:3077 prefixed-attribute schema. Composed from
    intersection_features and the (overlap-safe) erase_features run in
    both directions."""
    pairs = intersection_features(spark, defs_a, defs_b).select(
        "input_zone", "input_eas_id", "method_zone", "method_eas_id",
        "n_pieces", "geom")
    left_a, left_b = _leftover_features(spark, defs_a, defs_b)
    return pairs.unionByName(left_a).unionByName(left_b)


def _leftover_features(spark: SparkSession, defs_a: list[dict],
                       defs_b: list[dict]) -> tuple[DataFrame, DataFrame]:
    """The two leftover feature classes shared by Union and
    SymDifference: erase_features run in both directions, with the
    absent side's prefixed attributes NULL (ogrlayer.cpp:3077)."""
    left_a = erase_features(spark, defs_a, defs_b).filter("n_pieces > 0") \
        .select("input_zone", "input_eas_id",
                F.lit(None).cast("int").alias("method_zone"),
                F.lit(None).cast("int").alias("method_eas_id"),
                "n_pieces", "geom")
    left_b = erase_features(spark, defs_b, defs_a).filter("n_pieces > 0") \
        .select(F.lit(None).cast("int").alias("input_zone"),
                F.lit(None).cast("int").alias("input_eas_id"),
                F.col("input_zone").alias("method_zone"),
                F.col("input_eas_id").alias("method_eas_id"),
                "n_pieces", "geom")
    return left_a, left_b


def sym_difference_features(spark: SparkSession, defs_a: list[dict],
                            defs_b: list[dict]) -> DataFrame:
    """Layer-algebra SymDifference with GEOMETRY output
    (ogrlayer.cpp:4300): exactly the two leftover classes of Union —
    input − union(method) and method − union(input) — without the pair
    pieces."""
    left_a, left_b = _leftover_features(spark, defs_a, defs_b)
    return left_a.unionByName(left_b)


# ---------------------------------------------------------------------------
# Contract query: Union feature classes, canonical numeric form
# ---------------------------------------------------------------------------


def union_contract_defs() -> tuple[list[dict], list[dict]]:
    """The Union/SymDifference contract layer pair. Both layers are
    pairwise-disjoint *within themselves* (disjoint_method_defs) so the
    oracle's leftover areas are exact sums: area(X) − Σ pair areas.
    Overlap BETWEEN the layers is everywhere (the 0.31/0.17 shift);
    the overlapping-method union_fold path is exercised by tests."""
    from gdal_spark.layer_algebra import disjoint_method_defs, shift_defs
    from gdal_spark.zones import zone_defs

    a = disjoint_method_defs(zone_defs())
    b = disjoint_method_defs(shift_defs(zone_defs(), 0.31, 0.17))
    return a, b


def _multi_area_kernel(blobs: pd.Series) -> pd.Series:
    """Area of a MultiPolygon WKB: per polygon |outer| − Σ|holes|,
    folded in piece order (the exactness stance of the feature kernels)."""
    out = []
    for blob in blobs:
        g = W.loads(bytes(blob))
        area = 0.0
        for poly in g["coords"]:
            rings = [np.asarray(r, dtype=np.float64) for r in poly]
            area += abs(G.ring_area(rings[0])) - sum(
                abs(G.ring_area(h)) for h in rings[1:])
        out.append(area)
    return pd.Series(out, dtype=np.float64)


def union_features_canon(spark: SparkSession) -> DataFrame:
    """Union feature set in hashable form: one row per feature of the
    three GDAL Union classes with a class tag and the piece area decoded
    FROM THE WKB GEOMETRY (so the contract exercises the real feature
    output, not the aggregate shortcut). SymDifference is the
    cls <> 'pair' subset (sym_difference_features)."""
    a, b = union_contract_defs()
    feats = union_features(spark, a, b)
    multi_area = F.pandas_udf(_multi_area_kernel, "double")
    cls = (F.when(F.col("input_zone").isNull(), F.lit("left_method"))
           .when(F.col("method_zone").isNull(), F.lit("left_input"))
           .otherwise(F.lit("pair")))
    out = feats.select(
        cls.alias("cls"), "input_zone", "input_eas_id",
        "method_zone", "method_eas_id",
        F.round(multi_area("geom"), 6).alias("area"))
    # align the leftover-row predicate with the oracle: both sides keep a
    # leftover iff its ROUNDED area exceeds 0 (the engine's n_pieces > 0
    # alone would admit a sub-5e-7 sliver the oracle's area subtraction
    # rounds away)
    return out.filter("cls = 'pair' or area > 0")


def union_features_oracle_sql() -> str:
    """DuckDB oracle for union_features_canon: pair areas from the
    shared trap-pair fold (intersection_agg_sql); leftover areas by
    exact subtraction — area(X) − Σ pair areas — valid because each
    contract layer is internally disjoint (union_contract_defs)."""
    from gdal_spark.layer_algebra import _fmt

    defs_a, defs_b = union_contract_defs()
    ia = intersection_agg_sql(defs_a, defs_b, DUCKDB)

    def zone_values(defs: list[dict]) -> str:
        return ", ".join(
            f"({z['zone_id']}, {int(z.get('eas_id', 0))},"
            f" {_fmt(G.polygon_area(z['rings']))})"
            for z in defs)

    return f"""
with ia as ({ia}),
za(zone_id, eas_id, zarea) as (values {zone_values(defs_a)}),
zb(zone_id, eas_id, zarea) as (values {zone_values(defs_b)}),
pair as (
  select 'pair' as cls,
         cast(zone_a as int) as input_zone,
         cast(input_eas_id as int) as input_eas_id,
         cast(zone_b as int) as method_zone,
         cast(method_eas_id as int) as method_eas_id,
         round(inter_area, 6) as area
  from ia
),
left_in as (
  select 'left_input' as cls,
         cast(za.zone_id as int) as input_zone,
         cast(za.eas_id as int) as input_eas_id,
         cast(null as int) as method_zone,
         cast(null as int) as method_eas_id,
         round(za.zarea - coalesce(s.tot, 0e0), 6) as area
  from za left join (
    select zone_a, sum(inter_area) as tot from ia group by 1
  ) s on s.zone_a = za.zone_id
  where round(za.zarea - coalesce(s.tot, 0e0), 6) > 0
),
left_m as (
  select 'left_method' as cls,
         cast(null as int) as input_zone,
         cast(null as int) as input_eas_id,
         cast(zb.zone_id as int) as method_zone,
         cast(zb.eas_id as int) as method_eas_id,
         round(zb.zarea - coalesce(s.tot, 0e0), 6) as area
  from zb left join (
    select zone_b, sum(inter_area) as tot from ia group by 1
  ) s on s.zone_b = zb.zone_id
  where round(zb.zarea - coalesce(s.tot, 0e0), 6) > 0
)
select * from pair
union all select * from left_in
union all select * from left_m
"""


# ---------------------------------------------------------------------------
# Layer-algebra OPTION surface (ogrlayer.cpp:3290-3330 option parsing):
# KEEP_LOWER_DIMENSION_GEOMETRIES, PROMOTE_TO_MULTI, INPUT_PREFIX /
# METHOD_PREFIX (set_result_schema, ogrlayer.cpp:3077). Feature sets and
# expected outputs ported from autotest/ogr/ogr_layer_algebra.py
# (test_algebra_intersection_1/2, test_algebra_intersection_multipoint,
# test_algebra_KEEP_LOWER_DIMENSION_GEOMETRIES).
# ---------------------------------------------------------------------------


def result_field_names(in_fields: list[str], m_fields: list[str],
                       input_prefix: str | None = None,
                       method_prefix: str | None = None
                       ) -> tuple[list[str], list[str]]:
    """set_result_schema's naming rule (ogrlayer.cpp:3077): an explicit
    prefix always applies; with no prefixes, only names present in BOTH
    layers get the implicit input_/method_ prefix."""
    if input_prefix is None and method_prefix is None:
        both = set(in_fields) & set(m_fields)
        return ([f"input_{n}" if n in both else n for n in in_fields],
                [f"method_{n}" if n in both else n for n in m_fields])
    ip = input_prefix or ""
    mp = method_prefix or ""
    return [f"{ip}{n}" for n in in_fields], [f"{mp}{n}" for n in m_fields]


def _seg_intersection_pieces(a0, a1, b0, b1):
    """Exact segment x segment intersection: [] | [(0, (x, y))] |
    [(1, ((x0,y0),(x1,y1)))] — proper crossings, endpoint touches, and
    collinear overlaps (GEOS LineString::Intersection piecewise)."""
    ax, ay = a1[0] - a0[0], a1[1] - a0[1]
    bx, by = b1[0] - b0[0], b1[1] - b0[1]
    denom = ax * by - ay * bx
    cx, cy = b0[0] - a0[0], b0[1] - a0[1]
    if denom == 0.0:
        # parallel: collinear iff b0 lies on line(a)
        if cx * ay - cy * ax != 0.0:
            return []
        # project onto the dominant axis of a
        use_x = abs(ax) >= abs(ay)
        pa = sorted([(a0[0] if use_x else a0[1], a0),
                     (a1[0] if use_x else a1[1], a1)])
        pb = sorted([(b0[0] if use_x else b0[1], b0),
                     (b1[0] if use_x else b1[1], b1)])
        lo = max(pa[0][0], pb[0][0])
        hi = min(pa[1][0], pb[1][0])
        if lo > hi:
            return []
        t0 = (lo - pa[0][0]) / (pa[1][0] - pa[0][0]) if pa[1][0] != pa[0][0] else 0.0
        t1 = (hi - pa[0][0]) / (pa[1][0] - pa[0][0]) if pa[1][0] != pa[0][0] else 0.0
        p0 = (pa[0][1][0] + t0 * (pa[1][1][0] - pa[0][1][0]),
              pa[0][1][1] + t0 * (pa[1][1][1] - pa[0][1][1]))
        p1 = (pa[0][1][0] + t1 * (pa[1][1][0] - pa[0][1][0]),
              pa[0][1][1] + t1 * (pa[1][1][1] - pa[0][1][1]))
        if p0 == p1:
            return [(0, p0)]
        return [(1, (p0, p1))]
    t = (cx * by - cy * bx) / denom
    u = (cx * ay - cy * ax) / denom
    if 0.0 <= t <= 1.0 and 0.0 <= u <= 1.0:
        return [(0, (a0[0] + t * ax, a0[1] + t * ay))]
    return []


def _geom_dim(gtype: str) -> int:
    return {"POINT": 0, "MULTIPOINT": 0, "LINESTRING": 1,
            "MULTILINESTRING": 1, "POLYGON": 2, "MULTIPOLYGON": 2}[gtype]


def _pair_intersection(gt_a: str, coords_a, gt_b: str, coords_b):
    """Intersection pieces of one candidate pair. Returns
    (z_dim, gtype, pieces) or None when empty — pieces are coordinate
    tuples of the MAX-dimension components (GEOS collection dimension =
    max component dimension, which is what getDimension() reports)."""
    da, db = _geom_dim(gt_a), _geom_dim(gt_b)
    pts: list = []
    segs: list = []
    rings: list = []
    if da == 2 and db == 2:
        sub = np.asarray(coords_a, dtype=np.float64)
        clip = np.asarray(coords_b, dtype=np.float64)
        out = clip_convex_np(sub, clip)
        if len(out) == 0:
            return None
        area = abs(G.ring_area(out)) if len(out) >= 4 else 0.0
        if area > 0.0:
            rings.append(out.tolist())
        else:
            uniq = sorted({(float(p[0]), float(p[1])) for p in out})
            if len(uniq) >= 2:
                segs.append((uniq[0], uniq[-1]))
            elif uniq:
                pts.append(uniq[0])
    elif da == 1 and db == 1:
        for i in range(len(coords_a) - 1):
            for j in range(len(coords_b) - 1):
                for d, piece in _seg_intersection_pieces(
                        tuple(coords_a[i]), tuple(coords_a[i + 1]),
                        tuple(coords_b[j]), tuple(coords_b[j + 1])):
                    (segs if d == 1 else pts).append(piece)
    else:
        # polygon x line: Cyrus-Beck style parametric clip of each
        # segment against the convex ring
        ring = np.asarray(coords_a if da == 2 else coords_b,
                          dtype=np.float64)
        line = coords_b if da == 2 else coords_a
        if G.ring_area(ring) < 0:
            ring = ring[::-1]
        for i in range(len(line) - 1):
            p0 = np.asarray(line[i], dtype=np.float64)
            d = np.asarray(line[i + 1], dtype=np.float64) - p0
            t0, t1 = 0.0, 1.0
            ok = True
            for k in range(len(ring) - 1):
                e = ring[k + 1] - ring[k]
                n = np.array([-e[1], e[0]])  # inward for CCW
                den = float(n @ d)
                num = float(n @ (ring[k] - p0))
                if den == 0.0:
                    # parallel to this edge: reject iff p0 lies on the
                    # outside half-plane, i.e. n . (p0 - ring[k]) < 0
                    if num > 0.0:
                        ok = False
                        break
                elif den > 0.0:
                    t0 = max(t0, num / den)
                else:
                    t1 = min(t1, num / den)
            if ok and t0 <= t1:
                q0 = tuple(p0 + t0 * d)
                q1 = tuple(p0 + t1 * d)
                if q0 == q1:
                    pts.append(q0)
                else:
                    segs.append((q0, q1))
    if rings:
        return (2, "POLYGON" if len(rings) == 1 else "MULTIPOLYGON", rings)
    if segs:
        uniq_s = sorted(set(segs))
        return (1, "LINESTRING" if len(uniq_s) == 1 else "MULTILINESTRING",
                uniq_s)
    if pts:
        uniq_p = sorted(set(pts))
        return (0, "POINT" if len(uniq_p) == 1 else "MULTIPOINT", uniq_p)
    return None


def _dump_pieces(z_dim: int, gtype: str, pieces, promote: bool):
    """WKB for the pair result, honoring PROMOTE_TO_MULTI
    (ogrlayer.cpp promote_to_multi: POLYGON->MULTIPOLYGON,
    LINESTRING->MULTILINESTRING, POINT->MULTIPOINT)."""
    if z_dim == 2:
        parts = [W.dumps_polygon([r]) for r in pieces]
        single = gtype == "POLYGON"
        if single and not promote:
            return "POLYGON", parts[0]
        return "MULTIPOLYGON", W.dumps_multi("MultiPolygon", parts)
    if z_dim == 1:
        parts = [W.dumps_linestring(list(s)) for s in pieces]
        if gtype == "LINESTRING" and not promote:
            return "LINESTRING", parts[0]
        return "MULTILINESTRING", W.dumps_multi("MultiLineString", parts)
    parts = [W.dumps_point(p[0], p[1]) for p in pieces]
    if gtype == "POINT" and not promote:
        return "POINT", parts[0]
    return "MULTIPOINT", W.dumps_multi("MultiPoint", parts)


def intersection_features_options(
        spark: SparkSession, feats_in: list[dict], feats_m: list[dict],
        options: dict | None = None) -> DataFrame:
    """OGRLayer::Intersection with the option surface
    (ogrlayer.cpp:3345): one result feature per intersecting (input,
    method) pair, fields mapped through set_result_schema's prefix
    rule, KEEP_LOWER_DIMENSION_GEOMETRIES filtering (drop when the
    pair's dims are equal and the result dim is lower, :3540-3545) and
    PROMOTE_TO_MULTI geometry wrapping.

    Features: {"fid": int, "gtype": str, "coords": [[x, y], ...],
    "fields": {...}}. Candidates come from a bbox cell equi-prejoin
    (the ogrlayer.cpp:2253 staged filter); the exact per-pair kernel
    runs grouped in pandas — same shape as intersection_features, so
    the option semantics add no new shuffle."""
    opts = {k.upper(): str(v).upper() for k, v in (options or {}).items()}
    keep_lower = opts.get("KEEP_LOWER_DIMENSION_GEOMETRIES", "YES") == "YES"
    promote = opts.get("PROMOTE_TO_MULTI", "NO") == "YES"
    in_names = sorted({k for f in feats_in for k in f["fields"]})
    m_names = sorted({k for f in feats_m for k in f["fields"]})
    out_in, out_m = result_field_names(
        in_names, m_names,
        (options or {}).get("INPUT_PREFIX"),
        (options or {}).get("METHOD_PREFIX"))

    def rows(feats, fid_col):
        return [(f["fid"], f["gtype"],
                 [[float(x), float(y)] for x, y in f["coords"]])
                for f in feats]

    a = spark.createDataFrame(
        rows(feats_in, "in_fid"),
        "in_fid int, gt_a string, coords_a array<array<double>>")
    b = spark.createDataFrame(
        rows(feats_m, "m_fid"),
        "m_fid int, gt_b string, coords_b array<array<double>>")

    def bbox(df: DataFrame, coords: str, p: str) -> DataFrame:
        return (df
                .withColumn(f"{p}minx", F.expr(
                    f"array_min(transform({coords}, q -> q[0]))"))
                .withColumn(f"{p}maxx", F.expr(
                    f"array_max(transform({coords}, q -> q[0]))"))
                .withColumn(f"{p}miny", F.expr(
                    f"array_min(transform({coords}, q -> q[1]))"))
                .withColumn(f"{p}maxy", F.expr(
                    f"array_max(transform({coords}, q -> q[1]))")))

    cand = (
        _with_cover_cells(bbox(a, "coords_a", "a"), "a").join(
            _with_cover_cells(bbox(b, "coords_b", "b"), "b"), "cell")
        .filter(F.expr("aminx <= bmaxx and bminx <= amaxx"
                       " and aminy <= bmaxy and bminy <= amaxy"))
        .dropDuplicates(["in_fid", "m_fid"])
        .select("in_fid", "gt_a", "coords_a", "m_fid", "gt_b", "coords_b")
    )

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        out = {"in_fid": [], "m_fid": [], "gtype": [], "z_dim": [],
               "n_pieces": [], "geom": []}
        for _, r in pdf.iterrows():
            res = _pair_intersection(r["gt_a"], list(r["coords_a"]),
                                     r["gt_b"], list(r["coords_b"]))
            if res is None:
                continue
            z_dim, gtype, pieces = res
            x_dim = _geom_dim(r["gt_a"])
            y_dim = _geom_dim(r["gt_b"])
            # ogrlayer.cpp:3540: skip when dims equal and result lower
            if not keep_lower and x_dim == y_dim and z_dim < x_dim:
                continue
            gname, blob = _dump_pieces(z_dim, gtype, pieces, promote)
            out["in_fid"].append(int(r["in_fid"]))
            out["m_fid"].append(int(r["m_fid"]))
            out["gtype"].append(gname)
            out["z_dim"].append(z_dim)
            out["n_pieces"].append(len(pieces))
            out["geom"].append(bytearray(blob))
        return pd.DataFrame(out)

    pieces = cand.groupBy("in_fid").applyInPandas(
        kernel, "in_fid int, m_fid int, gtype string, z_dim int,"
                " n_pieces int, geom binary")

    # attribute mapping through the prefix rule (broadcast attr tables)
    def attr_df(feats, names, out_names, key):
        data = [tuple([f["fid"]] + [f["fields"].get(n) for n in names])
                for f in feats]
        cols = ", ".join(f"`{c}` string" for c in out_names)
        sep = ", " if cols else ""
        return spark.createDataFrame(
            [tuple([d[0]] + [None if v is None else str(v)
                             for v in d[1:]]) for d in data],
            f"{key} int{sep}{cols}")

    out = (pieces
           .join(F.broadcast(attr_df(feats_in, in_names, out_in, "in_fid")),
                 "in_fid")
           .join(F.broadcast(attr_df(feats_m, m_names, out_m, "m_fid")),
                 "m_fid"))
    return out.select("in_fid", "m_fid", *out_in, *out_m,
                      "gtype", "z_dim", "n_pieces", "geom")
