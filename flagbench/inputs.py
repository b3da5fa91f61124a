"""Seeded, cached inputs for the two workloads.

Everything lives under ``<checkout>/.bench_cache/flagbench`` and is keyed
by what determines it, so a second run with the same seed generates
nothing:

* ``fixtures/``: the reference fixture rasters + config
  (``fixtures.make_all_rasters``; seed-independent, like any dataset).
* ``docpool/chunk-NN.parquet``: a pool of document chunks, each one
  ``fixtures.make_documents(DOCS_PER_CHUNK, seed=1000 + NN)``. A workload's
  documents are ``chunks`` chunks drawn without replacement from the pool by
  ``--seed`` and relabelled (``doc_id`` gets the seed and slot as a prefix,
  so point ids differ across seeds and never collide across chunks).
  ``make_documents`` runs a Python loop per document (~0.35 ms each on a
  4-core x86 VM), so drawing from a pool keeps a new seed at ~1 s instead
  of tens of seconds per run.
* ``grid-<tiles>/``: the ``tiles_cold`` raster grid, ``tiles`` float32
  1201x1201 one-degree tiles, deflate + predictor 3, 256x256 blocks.
  Seed-independent (it is the dataset); the seed draws the points.
* ``<workload>-s<seed>-n<size>/``: the per-seed inputs.
"""

from __future__ import annotations

import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from opentopodata_spark import fixtures, geotiff

DOCS_PER_CHUNK = 2500
POOL_CHUNKS = 24
TILE_PX = 1201
TILE_BLOCK = 256
BLOCK_LRU_MB = 256  # geotiff's default decoded-block LRU (OTDS_BLOCK_CACHE_MB)
OPEN_CACHE_ENTRIES = 64  # oracle._open_cached maxsize


def cache_root(checkout: str) -> str:
    return os.path.join(checkout, ".bench_cache", "flagbench")


def _done(path: str) -> bool:
    return os.path.exists(os.path.join(path, ".complete"))


def _mark(path: str) -> None:
    with open(os.path.join(path, ".complete"), "w") as f:
        f.write("ok\n")


def fixture_config(root: str) -> str:
    """The reference fixture corpus (SRTM, EU-DEM in EPSG:3035, NODATA,
    ETOPO1 global) and its config; returns the config path."""
    out = fixtures.make_all_rasters(os.path.join(root, "fixtures"))
    return out["config"][0]


def _doc_chunk(root: str, i: int) -> str:
    pool = os.path.join(root, "docpool")
    path = os.path.join(pool, f"chunk-{i:02d}.parquet")
    if not os.path.exists(path):
        os.makedirs(pool, exist_ok=True)
        tmp = os.path.join(pool, f".tmp-{i:02d}-{os.getpid()}.parquet")
        fixtures.make_documents(tmp, n_docs=DOCS_PER_CHUNK, seed=1000 + i)
        os.replace(tmp, path)
    return path


def _seeded_doc_tables(root: str, seed: int, chunks: int) -> list[pa.Table]:
    if chunks > POOL_CHUNKS:
        raise ValueError(f"{chunks} chunks > pool of {POOL_CHUNKS}")
    picks = np.random.default_rng(seed).choice(POOL_CHUNKS, chunks, replace=False)
    out = []
    for slot, i in enumerate(picks):
        t = pq.read_table(_doc_chunk(root, int(i)))
        ids = pc.binary_join_element_wise(
            pa.scalar(f"s{seed}-{slot}"), t["doc_id"], "/"
        )
        out.append(t.set_column(0, "doc_id", ids))
    return out


def docs_iceberg(root: str, seed: int, chunks: int) -> dict:
    """Seeded documents as an Iceberg v2 table: the chunk files are written
    with pyarrow and committed as one append snapshot through the package's
    own metadata layer (no Spark job, so nothing warms the session)."""
    from pyspark.sql.types import _parse_datatype_json_string

    from opentopodata_spark import iceberg

    path = os.path.join(root, f"iceberg-s{seed}-n{chunks}")
    if not _done(path):
        import shutil

        shutil.rmtree(path, ignore_errors=True)
        data = os.path.join(path, "data")
        os.makedirs(data)
        spark_schema = _parse_datatype_json_string(_DOCS_SPARK_SCHEMA_JSON)
        table = iceberg.IcebergTable.create(path, spark_schema)
        files = []
        for slot, t in enumerate(_seeded_doc_tables(root, seed, chunks)):
            f = os.path.join(data, f"part-{slot:05d}.parquet")
            pq.write_table(t, f)
            files.append(iceberg.DataFileInfo(f, None, t.num_rows, os.path.getsize(f)))
        table.append_files(files)
        _mark(path)
    return {"path": path, "docs": chunks * DOCS_PER_CHUNK, "files": chunks}


# fixtures.DOCUMENTS_SCHEMA as a Spark schema (nullable like Spark reads it)
_DOCS_SPARK_SCHEMA_JSON = (
    '{"type":"struct","fields":['
    '{"name":"doc_id","type":"string","nullable":true,"metadata":{}},'
    '{"name":"spans","type":{"type":"array","elementType":{"type":"struct",'
    '"fields":['
    '{"name":"kind","type":"string","nullable":true,"metadata":{}},'
    '{"name":"text","type":"string","nullable":true,"metadata":{}},'
    '{"name":"media_ref","type":"string","nullable":true,"metadata":{}},'
    '{"name":"offset","type":"integer","nullable":true,"metadata":{}}]},'
    '"containsNull":true},"nullable":true,"metadata":{}}]}'
)


def grid_side(tiles: int) -> int:
    side = int(round(math.sqrt(tiles)))
    if side * side != tiles:
        raise ValueError(f"tiles_cold needs a square tile count, got {tiles}")
    return side


def tile_grid(root: str, tiles: int) -> dict:
    """``tiles`` one-degree float32 tiles covering lat/lon [0, side)^2, SRTM
    naming and geometry (1-px overlap, pixel-is-area half-pixel offset),
    plus a config with one tiled dataset ``coldgrid``."""
    side = grid_side(tiles)
    path = os.path.join(root, f"grid-{tiles}")
    rasters = os.path.join(path, "rasters")
    cfg = os.path.join(path, "config.yaml")
    if not _done(path):
        os.makedirs(rasters, exist_ok=True)
        res = 1.0 / (TILE_PX - 1)
        steps = np.arange(TILE_PX) * res
        for la in range(side):
            for lo in range(side):
                lats = la + 1.0 - steps
                lons = lo + steps
                grid = fixtures.terrain_wgs84(lats[:, None], lons[None, :])
                # quantise to 0.1 m so deflate sees realistic DEM entropy
                arr = (np.round(grid * 10.0) / 10.0).astype(np.float32)
                geotiff.write_geotiff(
                    os.path.join(rasters, f"N{la:02d}E{lo:03d}.tif"), arr,
                    x0=lo - res / 2, y0=la + 1.0 + res / 2, sx=res, sy=res,
                    epsg=4326, compression="deflate", predictor=3,
                    tile_size=(TILE_BLOCK, TILE_BLOCK),
                )
        with open(cfg, "w") as f:
            f.write(f"datasets:\n- name: coldgrid\n  path: {rasters}/\n")
        _mark(path)
    blocks = math.ceil(TILE_PX / TILE_BLOCK) ** 2
    decoded_mb = tiles * blocks * TILE_BLOCK * TILE_BLOCK * 4 / 2**20
    return {"config": cfg, "tiles": tiles, "side": side,
            "decoded_mb": round(decoded_mb, 1)}


def cold_points(root: str, seed: int, tiles: int, per_tile: int) -> dict:
    """(point_id, lat, lon) uniform over the grid, ``per_tile`` per tile."""
    side = grid_side(tiles)
    n = tiles * per_tile
    path = os.path.join(root, f"points-s{seed}-t{tiles}-p{per_tile}.parquet")
    if not os.path.exists(path):
        rng = np.random.default_rng(seed)
        cell = np.repeat(np.arange(tiles), per_tile)
        lat = np.round(cell // side + rng.uniform(0.0, 1.0, n), 6)
        lon = np.round(cell % side + rng.uniform(0.0, 1.0, n), 6)
        order = rng.permutation(n)
        t = pa.table({
            "point_id": pa.array(np.arange(n, dtype=np.int64) * 7919 + seed),
            "lat": pa.array(lat[order]),
            "lon": pa.array(lon[order]),
        })
        tmp = f"{path}.tmp-{os.getpid()}"
        pq.write_table(t, tmp, row_group_size=max(1, n // 8))
        os.replace(tmp, path)
    return {"path": path, "coords": n}
