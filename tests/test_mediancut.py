"""Median-cut quantization (gdal_spark.mediancut) — invariants +
GDALComputeMedianCutPCT rule parity (alg/gdalmediancut.cpp)."""

import numpy as np
import pytest

from gdal_spark.mediancut import (SHIFT, median_cut_boxes,
                                  nearest_index_sql, palette_from_boxes)


def _hist(colors_counts):
    return [(r >> SHIFT, g >> SHIFT, b >> SHIFT, c)
            for (r, g, b), c in colors_counts]


def test_few_distinct_colors_yield_their_quantized_midpoints():
    """An image with k << n distinct colors: every occupied bin ends up
    its own box, palette = bin midpoints (min=max → (2·bin<<3)/2)."""
    colors = [(255, 0, 0), (0, 255, 0), (0, 0, 255), (128, 128, 128)]
    boxes = median_cut_boxes(_hist([(c, 10) for c in colors]), 16)
    pal = set(palette_from_boxes(boxes))
    expect = {((r >> SHIFT) << SHIFT, (g >> SHIFT) << SHIFT,
               (b >> SHIFT) << SHIFT) for r, g, b in colors}
    assert expect <= pal


def test_boxes_partition_and_totals_conserve():
    rng = np.random.RandomState(5)
    rows = [(int(r), int(g), int(b), int(c)) for r, g, b, c in
            np.c_[rng.randint(0, 32, (400, 3)), rng.randint(1, 50, 400)]]
    # dedupe bins (median_cut_boxes expects one row per bin)
    agg = {}
    for r, g, b, c in rows:
        agg[(r, g, b)] = agg.get((r, g, b), 0) + c
    rows = [(r, g, b, c) for (r, g, b), c in agg.items()]
    n_colors = 17
    boxes = median_cut_boxes(rows, n_colors)
    assert len(boxes) <= n_colors
    assert sum(b.total for b in boxes) == sum(c for _, _, _, c in rows)
    # boxes are disjoint: each occupied bin falls in exactly one box
    for r, g, b, _ in rows:
        hits = [bx for bx in boxes
                if bx.rmin <= r <= bx.rmax and bx.gmin <= g <= bx.gmax
                and bx.bmin <= b <= bx.bmax]
        assert len(hits) == 1, (r, g, b, len(hits))


def test_split_at_marginal_median():
    """Two clusters along R with a 3:1 mass ratio: the first split must
    separate them at the median index (inside the heavy side's edge)."""
    rows = [(2, 10, 10, 300), (30, 10, 10, 100)]
    boxes = median_cut_boxes(rows, 2)
    assert len(boxes) == 2
    spans = sorted((b.rmin, b.rmax) for b in boxes)
    assert spans == [(2, 2), (30, 30)]  # shrink contracts to the bins


def test_nearest_index_first_min_tie(spark, ddb):
    """FindNearestColor tie rule: equidistant entries resolve to the
    FIRST palette index, in both engines."""
    pal = [(10, 0, 0), (30, 0, 0), (10, 0, 0)]
    for engine, q in (
        ("spark", lambda s: spark.sql(s).collect()[0][0]),
        ("duckdb", lambda s: ddb.execute(s).fetchone()[0]),
    ):
        sql = nearest_index_sql(pal, "20", "0", "0", dialect=engine)
        got = q(f"select {sql} as i")
        assert got == 0, engine  # 10 and 30 tie at d=100 → first wins


def test_median_index_at_least_min_plus_one():
    """Degenerate: all mass at the box minimum — the split index is
    forced to first+1 (the reference's i == first guard), so the fold
    terminates instead of producing an empty half."""
    rows = [(0, 0, 0, 1000), (31, 0, 0, 1)]
    boxes = median_cut_boxes(rows, 2)
    assert len(boxes) == 2
    assert sum(b.total for b in boxes) == 1001
