"""The workloads: set-up, one timed iteration, and output checks.

Each workload only calls the package's public entry points (session,
shapefile writer/reader, points table, geotag, prepared cover and join,
tile counts, the query registry).  Timed steps run inside
``tracer.span(<module>.<step>)``; with tracing off a span only times.
``iteration()`` returns the iteration's result for ``check()``; the
caller times the whole iteration.
"""

from __future__ import annotations

import json
import os
import time

import checks
import inputs
from layers import Tracer, median

JOIN_RES = 8
TILE_RES = 7
HEADLINE_POINTS = 4_000_000
PARCEL_COUNT = 5_000
PARCEL_POINTS = 1_000_000
REGISTRY_EVENTS = 10_000       # the sf0.01 sizes
REGISTRY_DOCS = 500
REGISTRY_USERS = 150
AUDIT_SAMPLE = 20_000          # seeded points in the exact join audit
SETUP_REPS = 3                 # repeated set-up steps report their median

REGISTRY = [("graph", "triangle_counts"), ("graph", "neardup_components"),
            ("clustering", "kmeans_events"), ("clustering", "dbscan_events"),
            ("clustering", "cost_distance"), ("dedup", "dedup_minhash_lsh")]
# At sf0.1 DuckDB runs out of memory on dbscan's oracle and needs minutes
# for neardup's recursive closure, so those two are held to a row digest
# that must repeat across iterations and runs, at every size.
DIGEST_ONLY = ("dbscan_events", "neardup_components")


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def ensure_points(spark, work: str, n: int) -> str:
    """The (idx, phash) points table, written once per checkout."""
    from go_shapefile_spark.sources.images import write_points_table

    path = os.path.join(work, f"points_n{n}")
    marker = os.path.join(path, "_PERFBENCH_OK")
    if not os.path.exists(marker):
        write_points_table(spark, path, n)
        with open(marker, "w") as f:
            f.write(str(n))
    return path


def read_points(spark, path: str):
    from go_shapefile_spark.operators.geotag import with_lonlat_jvm

    return with_lonlat_jvm(spark.read.parquet(path).select("idx", "phash"))


def with_cell(pts):
    from pyspark.sql import functions as F

    from go_shapefile_spark.functions.cells import cell_sql

    return pts.withColumn("cell", F.expr(cell_sql("lon", "lat", JOIN_RES)))


def cover_shape(cover) -> dict[str, float]:
    """Full / narrow / wide cover rows and p99 clipped edges per partial cell."""
    from pyspark.sql import functions as F

    def count(df):
        return df.count() if df is not None else 0

    hist: dict[int, int] = {}
    if cover.narrow is not None:
        ecols = [c for c in cover.narrow.columns if c.endswith("_ax")]
        n_edges = sum((F.when(F.col(c).isNull() | F.isnan(c), 0).otherwise(1)
                       for c in ecols), F.lit(0))
        for k, n in cover.narrow.groupBy(n_edges.alias("k")).count().collect():
            hist[k] = hist.get(k, 0) + n
    if cover.wide is not None:
        for k, n in cover.wide.groupBy(F.size("edges").alias("k")).count().collect():
            hist[k] = hist.get(k, 0) + n
    total, acc, p99 = sum(hist.values()), 0, 0
    for k in sorted(hist):
        acc += hist[k]
        if acc >= 0.99 * total:
            p99 = k
            break
    return {"rows_full": count(cover.full), "rows_narrow": count(cover.narrow),
            "rows_wide": count(cover.wide), "edges_p99": p99}


def probe_counts(pts, cover) -> dict[str, float]:
    """Rows entering refinement (point x partial-cover-row pairs) and
    rows answered by full cells alone; untimed, traced runs only."""
    from pyspark.sql import functions as F

    cells = with_cell(pts).select("cell")
    cand = sum(cells.join(F.broadcast(side.select("cell", "polygon_fid")), "cell").count()
               for side in (cover.narrow, cover.wide) if side is not None)
    full = cells.join(F.broadcast(cover.full.select("cell", "polygon_fid")), "cell").count()
    return {"candidate_rows": cand, "full_rows": full}


def audit(spark, pts, cover, polygons: list[dict], seed: int, n_points: int) -> list[str]:
    """Sampled exact audit of the join against brute force."""
    from pyspark.sql import functions as F

    from go_shapefile_spark.operators.spatial_join import spatial_join_prepared

    modulus = max(1, n_points // AUDIT_SAMPLE)
    sample = pts.where(F.pmod(F.xxhash64("idx", F.lit(seed)), F.lit(modulus)) == 0).cache()
    sample_pdf = sample.select("idx", "lon", "lat").toPandas()
    joined = spatial_join_prepared(sample, cover, keep_cols=["idx", "polygon_fid"]).toPandas()
    sample.unpersist()
    return checks.audit_join(joined, sample_pdf, polygons)


class Workload:
    name = ""
    input_rows = 0

    def __init__(self, spark, tracer: Tracer, seed: int, work: str):
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.work = work
        self.info: dict[str, object] = {}     # printed, not gated

    def setup(self) -> dict[str, float]:
        raise NotImplementedError

    def iteration(self, traced: bool):
        raise NotImplementedError

    def check(self, result) -> list[str]:
        raise NotImplementedError

    def setup_checks(self) -> list[str]:
        """Check the warm-up results (untimed; runs after set-up)."""
        return [p for r in self.warm_results for p in self.check(r)]

    def final_checks(self, traced: bool) -> list[str]:
        return []


class HeadlineJoin(Workload):
    """Points -> geotag -> cell -> broadcast join against the country
    cover -> per-country rollup, then the res-7 tile rollup."""

    name = "headline_join"
    input_rows = HEADLINE_POINTS
    warmup = 4      # untimed passes: the first runs 4x slower, the next ones ~20% slower

    def setup(self) -> dict[str, float]:
        from go_shapefile_spark.operators.spatial_join import PreparedCover
        from go_shapefile_spark.sources.shapefile import read_shapefile_df

        t = time.monotonic()
        self.points = ensure_points(self.spark, self.work, HEADLINE_POINTS)
        self.polygons, rows = inputs.country_polygons(self.seed)
        self.base = os.path.join(self.work, "countries")
        inputs.write_polygon_set(self.base, self.polygons, inputs.COUNTRY_FIELDS, rows)
        t_inputs = time.monotonic() - t
        builds = []
        for _ in range(SETUP_REPS):
            self.spark.catalog.clearCache()
            t = time.monotonic()
            with self.tracer.span("shapefile.parse"):
                feats = read_shapefile_df(self.spark, self.base).select("fid", "geometry").cache()
                self.records = feats.count()
            with self.tracer.span("spatial_join.cover"):
                self.cover = PreparedCover.from_features(feats, JOIN_RES)
            feats.unpersist()
            builds.append(time.monotonic() - t)
        t = time.monotonic()
        with self.tracer.paused():
            self.warm_results = [self.iteration(traced=False) for _ in range(self.warmup)]
        warm = time.monotonic() - t
        self.shape = cover_shape(self.cover)
        self.info["cover_shape"] = self.shape
        return {"inputs": t_inputs, "parse_and_cover": median(builds), "warmup": warm}

    def iteration(self, traced: bool):
        from pyspark.sql import functions as F

        from go_shapefile_spark.operators.spatial_join import spatial_join_prepared
        from go_shapefile_spark.operators.tiles import tile_counts

        span = self.tracer.span
        pts = read_points(self.spark, self.points)
        if traced:
            with span("geotag.scan"):
                noop(with_cell(pts).select("cell"))
        with span("spatial_join.probe"):
            joined = spatial_join_prepared(pts, self.cover, keep_cols=["idx", "polygon_fid"])
            counts = dict(joined.groupBy("polygon_fid").count().collect())
        with span("tiles.rollup"):
            tiles = tile_counts(pts, res=TILE_RES).agg(
                F.sum("n").alias("n"), F.count(F.lit(1)).alias("cells")).collect()[0]
        return {"counts": counts, "tile_points": int(tiles["n"]), "cells": int(tiles["cells"])}

    def check(self, result) -> list[str]:
        problems = []
        if result["tile_points"] != HEADLINE_POINTS:
            problems.append(f"tile counts sum to {result['tile_points']}, "
                            f"not {HEADLINE_POINTS} points")
        if not hasattr(self, "reference"):
            self.reference = result
        problems += checks.compare_counts(result["counts"], self.reference["counts"])
        if result["cells"] != self.reference["cells"]:
            problems.append(f"tile cells {result['cells']} != {self.reference['cells']}")
        return problems

    def final_checks(self, traced: bool) -> list[str]:
        pts = read_points(self.spark, self.points)
        problems = audit(self.spark, pts, self.cover, self.polygons, self.seed, HEADLINE_POINTS)
        rows = sum(self.reference["counts"].values())
        self.info["join_rows"] = rows
        self.info["tile_cells"] = self.reference["cells"]
        if traced:
            self.probe = probe_counts(pts, self.cover)
            self.probe["rows_out"] = rows - self.probe["full_rows"]
        return problems


class ParcelJoin(Workload):
    """Every iteration parses the parcel shapefile, rebuilds its cover
    and joins the points against it, rolled up per parcel."""

    name = "parcel_join"
    input_rows = PARCEL_POINTS
    warmup = 2

    def setup(self) -> dict[str, float]:
        t = time.monotonic()
        self.points = ensure_points(self.spark, self.work, PARCEL_POINTS)
        self.polygons, rows = inputs.parcel_polygons(self.seed, PARCEL_COUNT)
        self.base = os.path.join(self.work, "parcels")
        inputs.write_polygon_set(self.base, self.polygons, inputs.PARCEL_FIELDS, rows)
        t_inputs = time.monotonic() - t
        t = time.monotonic()
        with self.tracer.paused():
            self.warm_results = [self.iteration(traced=False) for _ in range(self.warmup)]
        warm = time.monotonic() - t
        self.shape = cover_shape(self.cover)
        self.info["cover_shape"] = self.shape
        return {"inputs": t_inputs, "warmup": warm}

    def iteration(self, traced: bool):
        from go_shapefile_spark.operators.spatial_join import (PreparedCover,
                                                               spatial_join_prepared)
        from go_shapefile_spark.sources.shapefile import read_shapefile_df

        span = self.tracer.span
        # PreparedCover caches its cover and never unpersists it: drop
        # the previous iteration's so memory does not grow per iteration
        self.spark.catalog.clearCache()
        pts = read_points(self.spark, self.points)
        if traced:
            with span("shapefile.parse"):
                feats = read_shapefile_df(self.spark, self.base).select("fid", "geometry").cache()
                self.records = feats.count()
            with span("spatial_join.cover"):
                self.cover = PreparedCover.from_features(feats, JOIN_RES)
            feats.unpersist()
            with span("geotag.scan"):
                noop(with_cell(pts).select("cell"))
        else:
            with span("spatial_join.cover"):
                feats = read_shapefile_df(self.spark, self.base).select("fid", "geometry")
                self.cover = PreparedCover.from_features(feats, JOIN_RES)
        with span("spatial_join.probe"):
            joined = spatial_join_prepared(pts, self.cover, keep_cols=["idx", "polygon_fid"])
            counts = dict(joined.groupBy("polygon_fid").count().collect())
        return {"counts": counts}

    def check(self, result) -> list[str]:
        rows = sum(result["counts"].values())
        sides = (self.cover.full, self.cover.narrow, self.cover.wide)
        cover_rows = sum(side.count() for side in sides if side is not None)
        print(f"[{self.name}] iteration: cover rows {cover_rows}, join rows {rows}, "
              f"parcels hit {len(result['counts'])}", flush=True)
        if not hasattr(self, "reference"):
            self.reference = result
        problems = checks.compare_counts(result["counts"], self.reference["counts"])
        if rows == 0:
            problems.append("no point fell in any parcel")
        return problems

    def final_checks(self, traced: bool) -> list[str]:
        pts = read_points(self.spark, self.points)
        problems = audit(self.spark, pts, self.cover, self.polygons, self.seed, PARCEL_POINTS)
        rows = sum(self.reference["counts"].values())
        self.info["join_rows"] = rows
        if traced:
            self.probe = probe_counts(pts, self.cover)
            self.probe["rows_out"] = rows - self.probe["full_rows"]
        return problems


class RegistryMix(Workload):
    """Six registry queries, each from construction to its rows on the driver."""

    name = "registry_mix"
    input_rows = REGISTRY_EVENTS + REGISTRY_DOCS

    def setup(self) -> dict[str, float]:
        import __spark_entry__ as entry

        self.dir = os.path.join(self.work, "registry")
        gens = []
        for _ in range(SETUP_REPS):
            t = time.monotonic()
            inputs.write_registry_tables(self.dir, self.seed, REGISTRY_EVENTS,
                                         REGISTRY_DOCS, REGISTRY_USERS)
            gens.append(time.monotonic() - t)
        t = time.monotonic()
        self.queries = entry.queries()
        t_registry = time.monotonic() - t
        t = time.monotonic()
        with self.tracer.paused():
            self.reference = self.iteration(traced=False)
        warm = time.monotonic() - t
        return {"inputs": median(gens), "registry": t_registry, "warmup": warm}

    def setup_checks(self) -> list[str]:
        """DuckDB oracle for four queries, persisted digests for the other two."""
        import duckdb

        import __spark_entry__ as entry

        oracles = entry.oracle_sql()
        con = duckdb.connect()
        con.execute("SET threads TO 4")
        for t in ("events", "documents"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{os.path.join(self.dir, t + '.parquet')}'")
        problems = []
        store = os.path.join(self.work, "registry_digests.json")
        try:
            with open(store) as f:
                saved = json.load(f)
        except (OSError, ValueError):
            saved = {}
        for _, name in REGISTRY:
            got = self.reference[name]
            if name in DIGEST_ONLY:
                key, digest = f"{self.seed}:{name}", checks.frame_digest(got)
                if saved.get(key, digest) != digest:
                    problems.append(f"{name}: digest {digest} != earlier run {saved[key]}")
                saved[key] = digest
                continue
            want = con.execute(oracles[name]).df()
            problems += [f"{name}: {p}" for p in checks.compare_frames(got, want)]
        con.close()
        with open(store, "w") as f:
            json.dump(saved, f, sort_keys=True)
        self.info["oracle_gap"] = (f"{', '.join(DIGEST_ONLY)} have no DuckDB oracle "
                                   "check here; their row digest must repeat across "
                                   "iterations and runs")
        return problems

    def iteration(self, traced: bool):
        # rows are collected (small results) rather than sent to a noop
        # sink, so every iteration is checked without running twice
        rows = {}
        for module, name in REGISTRY:
            with self.tracer.span(f"{module}.{name}"):
                rows[name] = self.queries[name](self.spark, self.dir).toPandas()
        return rows

    def check(self, result) -> list[str]:
        return [f"{name}: {p}" for name, got in result.items()
                for p in checks.compare_frames(got, self.reference[name])]

    def final_checks(self, traced: bool) -> list[str]:
        if traced:
            self.spark.catalog.clearCache()
            self.spark._jvm.System.gc()
            for _ in range(2):
                with self.tracer.span("dedup.dedup_minhash_lsh_isolated"):
                    self.queries["dedup_minhash_lsh"](self.spark, self.dir).toPandas()
        return []


WORKLOADS = {w.name: w for w in (HeadlineJoin, ParcelJoin, RegistryMix)}
