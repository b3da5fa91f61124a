"""The two workloads: set-up, one timed pass, and the output checks.

Each workload builds its inputs from the seed (``inputs``), sets itself up
on a given session (``setup``), then runs closed-loop passes back to back
(``run_pass``): every pass rebuilds the plan from the set-up state and
runs it to completion, as a user's batch job would. ``check`` compares
what the passes produced with the single-process oracle
(``oracle.get_elevation``).
"""

from __future__ import annotations

import glob
import math
import os
import shutil
import time

from pyspark.sql import Observation
from pyspark.sql import functions as F

from opentopodata_spark import config, iceberg, oracle, tiles
from opentopodata_spark.jobs import elevation as elevation_job
from opentopodata_spark.operators import elevation, extract

import inputs

INTERPOLATION = "bilinear"
DOCS_DATASETS = "multi_eudem_etopo1"


def _fingerprint(df, seed: int, sample_every: int):
    """Per-pass output fingerprint, taken as an Observation on the pass's own
    action (no second scan):

    * ``rows`` and ``ids``: row count and an order-free sum of point-id
      hashes, compared with the same two numbers over the input points, so
      every valid coordinate must come out exactly once;
    * ``checksum``: order-free sum of xxhash64(point_id, elevation, dataset)
      (NaN hashes by its bits, null is skipped, so the two differ), which
      must agree across every pass of the run;
    * ``sample``: the rows whose seeded point-id hash falls in one bucket
      of ``sample_every``, for the oracle comparison."""
    obs = Observation()
    picked = F.pmod(F.xxhash64(F.col("point_id"), F.lit(seed)), F.lit(sample_every)) == 0
    out = df.observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        _hash_sum("point_id").alias("ids"),
        _hash_sum("point_id", "elevation", "dataset").alias("checksum"),
        F.collect_list(
            F.when(picked, F.struct("lat", "lon", "elevation", "dataset"))
        ).alias("sample"),
    )
    return out, obs


def _hash_sum(*cols):
    """Order-free sum of 31-bit row hashes (fits a long for 2^32 rows)."""
    return F.sum(F.pmod(F.xxhash64(*cols), F.lit(1 << 31)))


def _oracle_mismatches(rows: list, datasets) -> dict:
    """Compare result rows (lat, lon, elevation, dataset) with the oracle:
    elevation and dataset must match exactly, NaN and null kept distinct."""
    lats = [r["lat"] for r in rows]
    lons = [r["lon"] for r in rows]
    want_z, want_ds = oracle.get_elevation(
        lats, lons, datasets, INTERPOLATION, nodata_value=None
    )
    bad = 0
    first = None
    for r, wz, wds in zip(rows, want_z, want_ds):
        z = r["elevation"]
        same_z = (
            (z is None and wz is None)
            or (z is not None and wz is not None
                and ((math.isnan(z) and math.isnan(wz)) or z == wz))
        )
        if not same_z or r["dataset"] != wds:
            bad += 1
            if first is None:
                first = {"lat": r["lat"], "lon": r["lon"],
                         "got": [z, r["dataset"]], "want": [wz, wds]}
    return {"sampled": len(rows), "mismatches": bad, "first_mismatch": first}


class _Resolving:
    """Shared shape of docs_mixed and tiles_cold: a points DataFrame resolved
    and run to the noop sink with an output fingerprint."""

    sample_every = 100
    documents = False

    def __init__(self, spark, root: str, seed: int):
        self.spark = spark
        self.root = root
        self.seed = seed

    def run_pass(self) -> dict:
        out, obs = _fingerprint(self.resolver.resolve(self.points), self.seed,
                                self.sample_every)
        out.write.format("noop").mode("overwrite").save()
        got = dict(obs.get)
        self.samples = got.pop("sample")
        return got

    def check(self, passes: list[dict]) -> dict:
        """Every pass must carry exactly the input's point ids and the first
        pass's checksum; the sampled rows of the last pass must match the
        oracle."""
        want = self.points.agg(F.count(F.lit(1)).alias("rows"),
                               _hash_sum("point_id").alias("ids")).first()
        orc = _oracle_mismatches([r.asDict() for r in self.samples], self.datasets)
        good = [p["rows"] == want["rows"] and p["ids"] == want["ids"]
                and p["checksum"] == passes[0]["checksum"] for p in passes]
        return {
            "expected_coords": want["rows"],
            "oracle": orc,
            "pass_ok": good,
            "correct": bool(orc["sampled"] > 0 and orc["mismatches"] == 0 and all(good)),
        }


class DocsMixed(_Resolving):
    """Iceberg documents -> extract -> salted resolve -> noop sink."""

    name = "docs_mixed"
    documents = True
    chunks = 8

    def inputs(self) -> dict:
        self.cfg = inputs.fixture_config(self.root)
        self.table = inputs.docs_iceberg(self.root, self.seed, self.chunks)
        return {"docs": self.table["docs"], "iceberg_data_files": self.table["files"],
                "rasters": "reference fixtures (uncompressed, cached)"}

    def setup(self) -> dict:
        t0 = time.perf_counter()
        docs = iceberg.read_table(self.spark, self.table["path"])
        t1 = time.perf_counter()
        self.docs = docs
        self.all_points = extract.with_point_id(extract.extract_points(docs))
        self.points = self.all_points.where(F.col("loc_error").isNull())
        self.datasets = config.resolve_dataset_names(
            DOCS_DATASETS, config.load_datasets(self.cfg)
        )
        self.resolver = elevation.ElevationResolver(self.spark, self.datasets, INTERPOLATION)
        t2 = time.perf_counter()
        # the recipe of jobs/elevation.py: salts from a 2% document sample
        sample = extract.with_point_id(
            extract.extract_points(docs.sample(0.02, seed=7))
        ).where(F.col("loc_error").isNull())
        salts = elevation.estimate_cell_salts(self.resolver, sample, sample_fraction=0.02)
        self.resolver.set_cell_salts(salts)
        return {"plan_s": t1 - t0, "resolver_init_s": t2 - t1,
                "salts_s": time.perf_counter() - t2, "hot_cells": len(salts),
                "partitions": self.resolver._plan_partitions()}


class TilesCold(_Resolving):
    """Points table -> resolve over a compressed tile grid larger than the
    block LRU -> noop sink. No documents, no salt pre-pass."""

    name = "tiles_cold"
    n_tiles = 100
    per_tile = 2000
    # ~200 sampled rows: the oracle decodes a window per sampled tile
    sample_every = 1000

    def inputs(self) -> dict:
        self.grid = inputs.tile_grid(self.root, self.n_tiles)
        self.pts = inputs.cold_points(self.root, self.seed, self.n_tiles, self.per_tile)
        return {"tiles": self.n_tiles, "coords": self.pts["coords"],
                "points_per_tile": self.per_tile,
                "decoded_mb": self.grid["decoded_mb"],
                "block_lru_mb": inputs.BLOCK_LRU_MB,
                "decoded_over_lru": round(self.grid["decoded_mb"] / inputs.BLOCK_LRU_MB, 2),
                "open_raster_cache": inputs.OPEN_CACHE_ENTRIES}

    def setup(self) -> dict:
        t0 = time.perf_counter()
        self.points = self.spark.read.parquet(self.pts["path"])
        t1 = time.perf_counter()
        self.datasets = config.resolve_dataset_names(
            "coldgrid", config.load_datasets(self.grid["config"])
        )
        self.resolver = elevation.ElevationResolver(self.spark, self.datasets, INTERPOLATION)
        return {"plan_s": t1 - t0, "resolver_init_s": time.perf_counter() - t1}


def cli_pass(spark, docs_path: str, cfg: str, base: str) -> dict:
    """One run of the elevation CLI (GeoJSON sink, lineage checkpoint)
    into a fresh ``base/out`` and ``base/ckpt``."""
    shutil.rmtree(base, ignore_errors=True)
    out, ckpt = os.path.join(base, "out"), os.path.join(base, "ckpt")
    stats = elevation_job.run([
        "--documents", docs_path, "--config", cfg, "--datasets", DOCS_DATASETS,
        "--out", out, "--format", "geojson", "--resume-dir", ckpt,
        "--interpolation", INTERPOLATION,
        "--cores", str(spark.sparkContext.defaultParallelism),
    ])
    results = os.path.join(out, "results")
    return {"rows": stats["rows"], "buckets": stats["processed"],
            "results_bytes": _dir_bytes(results), "ckpt_bytes": _dir_bytes(ckpt),
            "lines": _count_lines(results)}


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(f) for f in glob.glob(os.path.join(path, "**"), recursive=True)
               if os.path.isfile(f))


def _count_lines(path: str) -> int:
    n = 0
    for f in glob.glob(os.path.join(path, "part-*")):
        with open(f, "rb") as fh:
            for chunk in iter(lambda: fh.read(1 << 20), b""):
                n += chunk.count(b"\n")
    return n


WORKLOADS = {w.name: w for w in (DocsMixed, TilesCold)}


def rasters_indexed(datasets) -> int:
    rows = tiles.dataset_registry_rows(datasets)
    return len(tiles.tile_index_rows(datasets)) + sum(1 for r in rows if r[9] is not None)
