"""The three benchmark workloads.

Each workload calls the engine only through its public functions, checks
every job's output against a DuckDB oracle computed once in ``prepare``,
and has two job shapes:

- ``job`` — the call a user makes, timed end to end with tracing off;
- ``traced_job`` — the same work split at layer boundaries. Each layer's
  input is materialized first (``localCheckpoint`` or ``cache``), so a
  span times that layer only.

``probes`` runs once after the traced jobs and returns the per-layer
counts that describe the input rather than a job (hit ratio, cell skew,
driver-side R-tree and point-in-polygon work, bytes committed). A layer
that runs only in set-up, not in the jobs, is traced once in ``probes``.
"""

from __future__ import annotations

import math
import os
import shutil
import time

from pyspark.sql import functions as F

from gdal_spark import cells, checkpoint, knn, pages, pipeline, raster
from gdal_spark.extract import geocode_pages
from gdal_spark.pip_join import build_zone_index_from_defs, pip_join
from gdal_spark.session import ARROW_BATCH_ROWS
from gdal_spark.zones import zone_defs

from perfbench import inputs


class CheckFailed(AssertionError):
    """A job's output differs from the oracle."""


def _expect(ok: bool, what: str) -> None:
    if not ok:
        raise CheckFailed(what)


def top_cell_share(points) -> float:
    """Share of points in the top 1% most populated z12 cells."""
    counts = sorted(
        (r["n"] for r in points.groupBy(
            cells.cell_id_col("lon", "lat", pipeline.CELL_ZOOM).alias("c"))
         .agg(F.count(F.lit(1)).alias("n")).collect()),
        reverse=True)
    if not counts:
        return 0.0
    top = max(1, math.ceil(len(counts) / 100))
    return sum(counts[:top]) / sum(counts)


class Context:
    """What a workload needs from the runner."""

    def __init__(self, spark, data_dir: str, work_dir: str):
        self.spark = spark
        self.data_dir = data_dir
        self.work_dir = work_dir


class ZonalPages:
    name = "zonal_pages"
    repeat = 12  # 60,000 pages
    # the second job is still ~25% slower than the fifth (JIT and Python
    # worker warm-up); two warm-up jobs leave the timed jobs near the floor
    warmup_jobs = 2

    def prepare(self, ctx: Context) -> None:
        from gdal_spark.queries.spatial import ORACLES

        con = inputs.duckdb_con(ctx.data_dir)
        try:
            self.oracle = [tuple(int(v) for v in r) for r in
                           con.execute(ORACLES["zonal_count"]).fetchall()]
        finally:
            con.close()
        self.rows = inputs.POOL_ROWS * self.repeat
        self.last = None

    def job(self, ctx: Context):
        return pipeline.pages_per_zone(ctx.spark, ctx.data_dir).collect()

    def traced_job(self, ctx: Context, tr):
        with tr.span("pages"):
            pg = pages.pages_from_documents(ctx.spark, ctx.data_dir) \
                .localCheckpoint()
        with tr.span("extract"):
            geo = geocode_pages(pg).filter(F.col("lat").isNotNull()) \
                .localCheckpoint()
        with tr.span("cells"):
            cel = geo.withColumn(
                "cell_id", cells.cell_id_col("lon", "lat", pipeline.CELL_ZOOM)
            ).localCheckpoint()
        with tr.span("pip_join"):
            joined = pip_join(cel, build_zone_index_from_defs(zone_defs()),
                              how="inner").localCheckpoint()
        with tr.span("pipeline.agg"):
            out = joined.groupBy("zone_id").agg(
                F.count(F.lit(1)).alias("n_pages")).collect()
        self.last = (pg, geo, cel)
        return out

    def check(self, ctx: Context, out) -> None:
        got = sorted((int(r["zone_id"]), int(r["n_pages"])) for r in out)
        _expect(got == self.oracle,
                f"zonal counts differ from oracle: {got} != {self.oracle}")
        self.rows_out = sum(n for _, n in got)

    def probes(self, ctx: Context, tr) -> dict:
        pg, geo, cel = self.last
        n_pages, n_geo = pg.count(), geo.count()
        pts = cel.select("lon", "lat").toPandas()
        index = build_zone_index_from_defs(zone_defs())
        tree_s = pip_s = 0.0
        candidates = matches = 0
        for i in range(0, len(pts), ARROW_BATCH_ROWS):
            px = pts["lon"].to_numpy()[i:i + ARROW_BATCH_ROWS]
            py = pts["lat"].to_numpy()[i:i + ARROW_BATCH_ROWS]
            t0 = time.perf_counter()
            cand, _ = index.tree.query_points(px, py)
            t1 = time.perf_counter()
            hit, _ = index.match_points(px, py)
            t2 = time.perf_counter()
            tree_s += t1 - t0
            pip_s += t2 - t1
            candidates += len(cand)
            matches += len(hit)
        return {
            "extract.hit_ratio": n_geo / n_pages,
            "cells.top_cell_share": top_cell_share(cel),
            "strtree.s": tree_s,
            "strtree.candidates": float(candidates),
            "geom.pip_s": pip_s,
            "pip_join.match_ratio": matches / candidates if candidates else 0.0,
            "pip_join.rows_out": float(self.rows_out),
        }


class KnnHotspot:
    name = "knn_hotspot"
    repeat = 2  # 10,000 documents -> ~6,000 geotagged points
    k = 8
    query_every = 40  # every 40th doc_id that is a point -> ~150 queries
    # a kNN job is ~20 small Spark jobs whose driver-side planning keeps
    # getting faster while the JIT compiles it: one warm-up job leaves the
    # timed jobs on a ~30% downhill slope, three leave them near the floor
    warmup_jobs = 3

    def _points(self, ctx: Context):
        return pages.points_from_documents(ctx.spark, ctx.data_dir) \
            .select("doc_id", "lon", "lat")

    def _queries(self, pts):
        return pts.filter(f"doc_id % {self.query_every} = 7").select(
            F.col("doc_id").alias("qid"), "lon", "lat")

    def prepare(self, ctx: Context) -> None:
        from gdal_spark.crs import haversine_sql

        self.points = self._points(ctx).cache()
        self.points.count()
        self.queries = self._queries(self.points)
        dist = haversine_sql("q.lon", "q.lat", "p.lon", "p.lat")
        pts_sql = pages.points_oracle_sql("documents")
        sql = f"""
with p as ({pts_sql}),
q as (select doc_id as qid, lon, lat from p
      where doc_id % {self.query_every} = 7),
ranked as (
  select q.qid, p.doc_id, {dist} as dist_m,
         row_number() over (partition by q.qid
                            order by {dist}, p.doc_id) as rank
  from q cross join p
)
select qid, rank, doc_id, dist_m from ranked where rank <= {self.k}
order by qid, rank
"""
        con = inputs.duckdb_con(ctx.data_dir)
        try:
            rows = con.execute(sql).fetchall()
        finally:
            con.close()
        self.oracle = {}
        for qid, rank, doc_id, dist in rows:
            self.oracle.setdefault(int(qid), []).append((int(doc_id), dist))
        self.rows = len(self.oracle)

    def job(self, ctx: Context):
        return knn.knn_join(self.points, self.queries, k=self.k).collect()

    def traced_job(self, ctx: Context, tr):
        with tr.span("knn"):
            return self.job(ctx)

    def check(self, ctx: Context, out) -> None:
        got = {}
        for r in sorted(out, key=lambda r: (r["qid"], r["rank"])):
            got.setdefault(int(r["qid"]), []).append(
                (int(r["doc_id"]), float(r["dist_m"])))
        _expect(got.keys() == self.oracle.keys(),
                f"kNN answered {len(got)} queries, oracle {len(self.oracle)}")
        for qid, want in self.oracle.items():
            have = got[qid]
            _expect([d for d, _ in have] == [d for d, _ in want],
                    f"kNN neighbours of query {qid} differ: {have} != {want}")
            _expect(all(abs(a - b) <= 1e-6 for (_, a), (_, b)
                        in zip(have, want)),
                    f"kNN distances of query {qid} differ: {have} != {want}")

    def probes(self, ctx: Context, tr) -> dict:
        # every job reuses the points cached in prepare, so the pages layer
        # is traced once here, on a copy that no job uses
        with tr.span("pages"):
            pts = self._points(ctx).cache()
            pts.count()
        try:
            return {"cells.top_cell_share": top_cell_share(pts)}
        finally:
            pts.unpersist()


TILE_KEY = ("cast(z as bigint) * 288230376151711744"  # z << 58
            " + tx * 536870912 + ty")                  # tx << 29 | ty


class TileCommit:
    name = "tile_commit"
    repeat = 2  # 10,000 documents -> ~6,000 burned points
    z = 3
    crash_filter = "tile_key % 3 = 0"
    warmup_jobs = 1

    def prepare(self, ctx: Context) -> None:
        pts_sql = pages.points_oracle_sql("documents")
        con = inputs.duckdb_con(ctx.data_dir)
        try:
            self.oracle = {}
            for z in (self.z, self.z - 1, self.z - 2):
                # a 2x2 SUM overview of a count raster equals a direct burn
                # one zoom coarser, so every level has a first-principles
                # oracle
                for zz, tx, ty, ck, nnz in con.execute(
                        raster.checksum_oracle_sql(pts_sql, z)).fetchall():
                    self.oracle[(int(zz), int(tx), int(ty))] = (int(ck), int(nnz))
            self.rows = int(con.execute(
                f"select count(*) from ({pts_sql}) p").fetchone()[0])
        finally:
            con.close()
        keys = [(z << 58) + (tx << 29) + ty for z, tx, ty in self.oracle]
        self.crash_keys = sum(1 for k in keys if k % 3 == 0)
        self.n_tiles = len(keys)
        self.n_jobs = 0
        self.last_root = None

    def _root(self, ctx: Context) -> str:
        self.n_jobs += 1
        root = os.path.join(ctx.work_dir, "commits", str(self.n_jobs))
        shutil.rmtree(root, ignore_errors=True)
        return root

    def job(self, ctx: Context):
        root = self._root(ctx)
        pts = pages.points_from_documents(ctx.spark, ctx.data_dir)
        base = raster.rasterize_points(pts, self.z)
        up1 = raster.overview_sum(base)
        up2 = raster.overview_sum(up1)
        tiles = base.unionByName(up1).unionByName(up2) \
            .withColumn("tile_key", F.expr(TILE_KEY)).localCheckpoint()
        sums = raster.tile_checksums(tiles).collect()
        first = checkpoint.run_checkpointed(tiles, root, "tile_key",
                                            key_filter=self.crash_filter)
        resume = checkpoint.run_checkpointed(tiles, root, "tile_key")
        back = raster.tile_checksums(
            checkpoint.read_committed(ctx.spark, root, "tile_key")).collect()
        return self._done(root, sums, first, resume, back)

    def traced_job(self, ctx: Context, tr):
        root = self._root(ctx)
        with tr.span("pages"):
            pts = pages.points_from_documents(ctx.spark, ctx.data_dir) \
                .select("doc_id", "lon", "lat").localCheckpoint()
        with tr.span("raster.rasterize"):
            base = raster.rasterize_points(pts, self.z).localCheckpoint()
        with tr.span("raster.overview"):
            up1 = raster.overview_sum(base).localCheckpoint()
            up2 = raster.overview_sum(up1).localCheckpoint()
            tiles = base.unionByName(up1).unionByName(up2) \
                .withColumn("tile_key", F.expr(TILE_KEY)).localCheckpoint()
        with tr.span("raster.checksum"):
            sums = raster.tile_checksums(tiles).collect()
        with tr.span("checkpoint.commit"):
            first = checkpoint.run_checkpointed(tiles, root, "tile_key",
                                                key_filter=self.crash_filter)
        with tr.span("checkpoint.resume"):
            resume = checkpoint.run_checkpointed(tiles, root, "tile_key")
        with tr.span("checkpoint.read"):
            back = raster.tile_checksums(
                checkpoint.read_committed(ctx.spark, root, "tile_key")
            ).collect()
        self.last_pts = pts
        return self._done(root, sums, first, resume, back)

    def _done(self, root, sums, first, resume, back):
        if self.last_root is not None:
            shutil.rmtree(self.last_root, ignore_errors=True)
        self.last_root = root
        self.last_resume = resume
        return sums, first, resume, back

    def check(self, ctx: Context, out) -> None:
        sums, first, resume, back = out

        def as_dict(rows):
            return {(int(r["z"]), int(r["tx"]), int(r["ty"])):
                    (int(r["checksum"]), int(r["n_nonzero"])) for r in rows}

        _expect(len(sums) == self.n_tiles and as_dict(sums) == self.oracle,
                "tile checksums differ from oracle")
        _expect(first["keys_written"] == self.crash_keys,
                f"first commit wrote {first['keys_written']} keys,"
                f" expected {self.crash_keys}")
        _expect(resume["keys_written"] == self.n_tiles - self.crash_keys,
                f"resume wrote {resume['keys_written']} keys, expected"
                f" {self.n_tiles - self.crash_keys}")
        _expect(len(back) == self.n_tiles and as_dict(back) == self.oracle,
                "committed tiles read back differ from the one-shot tile set")

    def probes(self, ctx: Context, tr) -> dict:
        # every parquet file of the last job's commit root: data,
        # lineage, key manifests and run metrics of both snapshots
        n_files = n_bytes = 0
        for dirpath, _, files in os.walk(self.last_root):
            for f in files:
                if f.endswith(".parquet"):
                    n_files += 1
                    n_bytes += os.path.getsize(os.path.join(dirpath, f))
        skipped = self.n_tiles - self.last_resume["keys_written"]
        return {
            "cells.top_cell_share": top_cell_share(self.last_pts),
            "raster.tiles": float(self.n_tiles),
            "checkpoint.files_written": float(n_files),
            "checkpoint.bytes_written": float(n_bytes),
            "checkpoint.skip_ratio": skipped / self.n_tiles,
        }


WORKLOADS = {w.name: w for w in (ZonalPages, KnnHotspot, TileCommit)}
