import os

import duckdb
import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


@pytest.fixture(scope="session")
def spark():
    from gdal_spark.session import get_spark

    s = get_spark("gdal_spark_tests", master="local[8]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"create view {t} as select * from"
            f" read_parquet('{SF_SMOKE}/{t}.parquet')"
        )
    yield con
    con.close()


def jobs_launched(sc, group, fn):
    """(fn(), ids of the Spark jobs fn launched)."""
    sc.setJobGroup(group, group)
    try:
        out = fn()
        return out, list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def compare_frames(spark_df, ddb_con, sql, float_tol=0.0):
    """Driver-style compare: sort columns by name, order-insensitive rows."""
    import pandas as pd

    left = spark_df.toPandas()
    right = ddb_con.execute(sql).df()
    assert sorted(left.columns) == sorted(right.columns), (
        list(left.columns), list(right.columns))
    cols = sorted(left.columns)
    left = left[cols].sort_values(cols).reset_index(drop=True)
    right = right[cols].sort_values(cols).reset_index(drop=True)
    assert len(left) == len(right), (len(left), len(right))
    for c in cols:
        lv = left[c]
        rv = right[c]
        if lv.dtype.kind == "f" or rv.dtype.kind == "f":
            if float_tol == 0.0:
                pd.testing.assert_series_equal(
                    lv.astype("float64"), rv.astype("float64"),
                    check_names=False)
            else:
                import numpy as np

                assert np.allclose(lv.astype("float64"), rv.astype("float64"),
                                   atol=float_tol, equal_nan=True), c
        else:
            assert lv.astype(str).tolist() == rv.astype(str).tolist(), c
    return len(left)
