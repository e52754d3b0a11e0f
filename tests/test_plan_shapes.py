"""Physical-plan shape gate for every contract query.

The scale contract (VERDICT r1 §perf): no contract query may plan a
CartesianProduct or BroadcastNestedLoopJoin — those are the all-pairs
shapes that break at 100 TB no matter how fast they are at fixture
scale. Candidate generation must always be an equi-join (cell prejoin,
LSH band join, tile key, …).

Streaming queries are exercised in test_streaming.py (their plans only
exist inside a running query); everything else is planned here at
sf0.001 without being executed.
"""

from __future__ import annotations

import pytest

FORBIDDEN = ("CartesianProduct", "BroadcastNestedLoopJoin")

# Queries whose plans contain a nested-loop node that is NOT all-pairs
# candidate generation: the product is either the constructive output
# itself or a constant fan-out, so the work is linear in the data-scale
# side. Each entry documents the bounded side.
BOUNDED_PRODUCTS = {
    # broadcast brute-force baseline: corpus x bounded query set (50);
    # linear in N*Q by design (the scale path is ann_lsh/ann_ivf)
    "ann_topk_cosine",
    # nearest-centroid assignment: rows x constant centroid table
    # (n_centroids = O(100)); the corpus join itself is an equi-join on
    # the inverted-list key
    "ann_ivf_topk",
    # donor window gather: pixels x constant (2r+1)^2 offset table —
    # constant fan-out, identical cost to an explode
    "raster_fillnodata",
    # per-ray step walk over a bounded-radius grid; grid synthesis is
    # the range x range fixture generator (output-constructive)
    "raster_viewshed",
    # lines x the single clip-window row (constant)
    "clip_lines_cyrus_beck",
    # Lloyd assignment: vectors x constant k=8 centroid table per
    # round (the ann_ivf_topk precedent); every other stage is keyed
    "embed_kmeans",
    # warped pixels x the constant 6-row cutline edge table (the
    # constant-key equi-join folds to true); linear in pixels
    "warp_cutline",
    # int8-quantized brute rank: corpus x bounded query set (50) — the
    # ann_topk_cosine precedent with SQ8 storage; unbounded query sets
    # go through ann_lsh/ann_ivf
    "embed_sq8_topk",
}

SF = "/root/testdata/sf0.001"


def _contract_queries():
    import __spark_entry__ as entrymod

    return [(name, fn) for name, fn in entrymod.queries().items()
            if not name.startswith("streaming_")]


@pytest.mark.parametrize("name,fn", _contract_queries(),
                         ids=[n for n, _ in _contract_queries()])
def test_no_allpairs_join_shapes(spark, name, fn):
    if name in BOUNDED_PRODUCTS:
        pytest.skip("documented bounded product (see BOUNDED_PRODUCTS)")
    df = fn(spark, SF)
    qe = df._jdf.queryExecution()
    plan = qe.executedPlan().toString() + qe.optimizedPlan().toString()
    for node in FORBIDDEN:
        assert node not in plan, f"{name} plans {node}"

