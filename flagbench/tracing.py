"""The traced run: per-layer numbers, taken from outside the program.

One session, started with Spark's event log on, runs the untraced
measurement's steps (``harness.measure``: set-ups, warm passes, timed
passes; here the timed passes are the traced ones, on a shorter window),
then

* prefix plans, each to the noop sink under
  ``setJobDescription("layer:<name>")``: scan -> +extract -> +candidates ->
  +resolve. A layer's self time is its span minus the span of the prefix
  before it (its child); wall and process-tree CPU are the median of REPS
  runs;
* with the event log detached, ``harness.MIN_PASSES`` untraced passes:
  their median coords/s against the traced passes' is the overhead, both
  after the same warm-up in the same JVM;
* +sink (documents only): the elevation CLI with lineage and GeoJSON;
* one collect of the sampler partition of every point, for the replay.

The event log then gives per-layer shuffle bytes, sampler task count, task
skew and JVM GC. Finally the driver replays the sampler's raster work (see
``replay``) to split the resolve layer into geotiff / crs / interpolate.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time
from collections import defaultdict

from pyspark.sql import Observation
from pyspark.sql import functions as F

from opentopodata_spark import crs, geotiff, interpolate, lineage, oracle, tiles
from opentopodata_spark.operators import elevation

import harness
import proctree
import workloads

REPS = 2

PER_LAYER = (
    "session.start_s", "jvm.peak_rss_mb", "jvm.heap_peak_mb",
    "tiles.resolver_init_s", "tiles.rasters_indexed",
    "iceberg.plan_s", "iceberg.data_files",
    "scan.self_s",
    "extract.self_s", "extract.cpu_s", "extract.points_out", "extract.loc_errors",
    "salts.s", "salts.hot_cells", "salts.partitions",
    "candidates.self_s", "candidates.per_coord",
    "resolve.self_s", "resolve.cpu_s", "resolve.shuffle_bytes_per_coord",
    "resolve.partitions", "resolve.task_skew", "resolve.gc_s",
    "geotiff.open_s", "geotiff.decode_s", "geotiff.decoded_mb",
    "geotiff.block_hit_rate", "geotiff.decoded_px_per_coord",
    "crs.reproject_ns_per_coord", "interpolate.ns_per_coord",
    "lineage.checkpoint_s", "lineage.readback_s", "lineage.buckets_written",
    "sinks.write_s", "sinks.bytes_out", "sinks.bytes_per_coord",
    "outcome.resolved", "outcome.nodata", "outcome.null", "outcome.fallback",
    "trace.coords_per_s", "trace.untraced_coords_per_s", "trace.overhead_coords_per_s",
)
UNITS = (("coords_per_s", "1/s"), ("ns_per_coord", "ns"), ("px_per_coord", "px"),
         ("bytes_per_coord", "B"), ("per_coord", "ratio"), ("_s", "s"), (".s", "s"),
         ("_mb", "MB"), ("bytes_out", "B"), ("task_skew", "ratio"), ("hit_rate", "ratio"))


def unit_of(name: str) -> str:
    return next((unit for suffix, unit in UNITS if name.endswith(suffix)), "count")


class Spans:
    """Wall and process-tree CPU spans around calls made by the benchmark,
    kept in memory and written into the run record at the end."""

    def __init__(self):
        self.spans: list[dict] = []

    def run(self, spark, layer: str, action):
        spark.sparkContext.setJobDescription(f"layer:{layer}")
        c0, t0 = proctree.tree_cpu(), time.perf_counter()
        try:
            out = action()
        finally:
            spark.sparkContext.setJobDescription(None)
        wall, cpu = time.perf_counter() - t0, proctree.tree_cpu() - c0
        self.spans.append({"layer": layer, "wall_s": wall, "cpu_s": cpu})
        return out

    def median(self, layer: str, key: str) -> float:
        vals = [s[key] for s in self.spans if s["layer"] == layer]
        return statistics.median(vals) if vals else 0.0


def _noop(df):
    return lambda: df.write.format("noop").mode("overwrite").save()


def _observed(df, *aggs):
    obs = Observation()
    return df.observe(obs, *aggs), obs


def prefix_plans(wl, spans: Spans) -> dict:
    """Run the prefix plans REPS times each; returns the layers' counts."""
    spark = wl.spark
    counts: dict = {}
    fallback = wl.datasets[-1].name if len(wl.datasets) > 1 else None
    for _ in range(REPS):
        spans.run(spark, "scan", _noop(wl.docs if wl.documents else wl.points))
        if wl.documents:
            df, obs = _observed(
                wl.all_points, F.count(F.lit(1)).alias("n"),
                F.count(F.col("loc_error")).alias("errors"))
            spans.run(spark, "extract", _noop(df))
            counts["extract"] = obs.get
        df, obs = _observed(wl.resolver.candidates(wl.points), F.count(F.lit(1)).alias("n"))
        spans.run(spark, "candidates", _noop(df))
        counts["candidates"] = obs.get
        elev = F.col("elevation")
        df, obs = _observed(
            wl.resolver.resolve(wl.points),
            F.count(F.lit(1)).alias("n"),
            F.count(F.when(elev.isNotNull() & ~F.isnan(elev), 1)).alias("resolved"),
            F.count(F.when(F.isnan(elev), 1)).alias("nodata"),
            F.count(F.when(elev.isNull(), 1)).alias("null"),
            F.count(F.when(F.col("dataset") == F.lit(fallback), 1)).alias("fallback"),
        )
        spans.run(spark, "resolve", _noop(df))
        counts["resolve"] = obs.get
    return counts


class _Wrap:
    """Time calls to module or class attributes from outside, restoring them
    after. ``tally(result)`` returns counts to add up per call."""

    def __init__(self):
        self.saved = []
        self.times: dict = defaultdict(float)
        self.counts: dict = defaultdict(int)

    def wrap(self, owner, attr: str, name: str, tally=None):
        fn = getattr(owner, attr)
        times, counts = self.times, self.counts

        def timed(*a, **kw):
            t0 = time.perf_counter()
            try:
                out = fn(*a, **kw)
            finally:
                times[name] += time.perf_counter() - t0
            counts[name] += 1
            for k, v in (tally(out) if tally else {}).items():
                counts[k] += v
            return out

        self.saved.append((owner, attr, fn))
        setattr(owner, attr, timed)

    def restore(self):
        for owner, attr, fn in reversed(self.saved):
            setattr(owner, attr, fn)


def sink_layer(wl, spans: Spans, root: str) -> dict:
    """One run of the elevation CLI with spans around the public functions
    it calls: the salt pre-pass, the lineage checkpoint (resumable_resolve)
    and its data append. The output is checked as a user of the CLI would:
    the checkpoint must pass ``lineage.verify_lineage`` and the GeoJSON
    must hold one line per resolved coordinate."""
    docs_path = os.path.join(wl.table["path"], "data")
    w = _Wrap()
    w.wrap(elevation, "estimate_cell_salts", "salts")
    w.wrap(lineage, "resumable_resolve", "resumable")
    w.wrap(lineage.ParquetTables, "append_data", "append")
    base = os.path.join(root, "trace-sink", str(os.getpid()))
    try:
        out = spans.run(wl.spark, "sink",
                        lambda: workloads.cli_pass(wl.spark, docs_path, wl.cfg, base))
        out["lineage_verified"] = lineage.verify_lineage(wl.spark, os.path.join(base, "ckpt"))
    finally:
        w.restore()
        shutil.rmtree(base, ignore_errors=True)
    out.update({f"{k}_s": v for k, v in w.times.items()})
    out["ok"] = bool(out["lineage_verified"] and out["lines"] == out["rows"])
    return out


def parse_event_log(path: str) -> dict:
    """Per-layer task metrics from Spark's event log (JSON lines)."""
    stage_layer: dict = {}
    tasks: dict = defaultdict(list)
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                desc = (ev.get("Properties") or {}).get("spark.job.description") or ""
                for sid in ev.get("Stage IDs", []):
                    stage_layer.setdefault(sid, desc.removeprefix("layer:"))
            elif kind == "SparkListenerTaskEnd":
                tm = ev.get("Task Metrics") or {}
                ti = ev["Task Info"]
                sr = tm.get("Shuffle Read Metrics") or {}
                tasks[ev["Stage ID"]].append({
                    "dur_ms": ti["Finish Time"] - ti["Launch Time"],
                    "cpu_ns": tm.get("Executor CPU Time", 0),
                    "gc_ms": tm.get("JVM GC Time", 0),
                    "shuffle_write": (tm.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0),
                    "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                })
    layers: dict = defaultdict(lambda: {"stages": [], "gc_ms": 0, "cpu_ns": 0,
                                        "shuffle_write": 0})
    for sid in sorted(tasks):
        agg = layers[stage_layer.get(sid, "")]
        ts = tasks[sid]
        agg["stages"].append({
            "stage": sid, "tasks": len(ts),
            "reads_shuffle": any(t["shuffle_read"] > 0 for t in ts),
            "skew": max(t["dur_ms"] for t in ts) / max(1, statistics.median(
                t["dur_ms"] for t in ts)),
        })
        agg["gc_ms"] += sum(t["gc_ms"] for t in ts)
        agg["cpu_ns"] += sum(t["cpu_ns"] for t in ts)
        agg["shuffle_write"] += sum(t["shuffle_write"] for t in ts)
    return dict(layers)


def _replay_shard(jobs: list) -> tuple[dict, dict]:
    """One Python worker's share of the replay, run in a forked process:
    cold caches, then the sampler's own call per group, wrapped from
    outside to time and count what it calls."""
    w = _Wrap()
    w.wrap(geotiff, "open_raster", "open")
    w.wrap(crs, "reproject_latlons", "crs")
    w.wrap(geotiff.Raster, "read_window", "decode")
    w.wrap(interpolate, "sample_raster_values", "interp")
    w.wrap(geotiff._BlockReader, "_blocks_for_window", "window_reads",
           tally=lambda need: {"blocks_asked": len(need)})
    w.wrap(geotiff._BlockReader, "_decode", "blocks_decoded",
           tally=lambda a: {"decoded_bytes": a.nbytes, "decoded_px": a.size})
    geotiff.clear_block_cache()
    oracle._open_cached.cache_clear()
    try:
        for path, lats, lons in jobs:
            interpolate.sample_points_on_raster_arrays(
                oracle._open_cached(path), lats, lons, workloads.INTERPOLATION)
    finally:
        w.restore()
    return dict(w.times), dict(w.counts)


def replay(datasets, lats, lons, parts, cores: int) -> dict:
    """Driver-side replay of the pick sampler's raster work.

    Model: every candidate (point, dataset) pair is grouped by (sampler
    partition, raster path), the groups the sampler forms within a
    partition. The partitions are dealt round-robin to ``cores`` forked
    processes, one per task slot, each starting from a cold block LRU and a
    cold open-raster cache, as Spark's Python workers do; each runs its
    groups in (partition, path) order, every group the sampler's own call,
    ``interpolate.sample_points_on_raster_arrays(oracle._open_cached(path),
    ...)``. Timed from outside: ``geotiff.open_raster`` (open-cache
    misses), ``crs.reproject_latlons``, ``Raster.read_window`` (the window
    read, block decode included) and ``interpolate.sample_raster_values``.
    Counted: the blocks the window reads ask for
    (``_BlockReader._blocks_for_window``) and the blocks decoded
    (``_BlockReader._decode``); the hit rate is 1 - decoded / asked for.
    Seconds are summed over the processes and divided by ``cores`` to read
    as shares of a pass's wall time."""
    import multiprocessing as mp

    groups: dict = defaultdict(list)
    for row in tiles.dataset_registry_rows(datasets):
        _name, prio, _kind, left, bottom, right, top = row[:7]
        idx = ((lats >= bottom) & (lats <= top) & (lons >= left) & (lons <= right)).nonzero()[0]
        if len(idx) == 0:
            continue
        paths = datasets[prio].location_paths(lats[idx], lons[idx])
        if isinstance(paths, str) or paths is None:
            paths = [paths] * len(idx)
        for i, p in zip(idx, paths):
            if p is not None:
                groups[(int(parts[i]), p)].append(i)
    shards: list = [[] for _ in range(cores)]
    for (part, path), idx in sorted(groups.items()):
        shards[part % cores].append((path, lats[idx], lons[idx]))
    pool = mp.get_context("fork").Pool(cores, maxtasksperchild=1)
    try:
        done = pool.map(_replay_shard, shards, chunksize=1)
        pool.close()
    finally:
        pool.terminate()
        pool.join()
    t: dict = defaultdict(float)
    c: dict = defaultdict(int)
    for times, counts in done:
        for k, v in times.items():
            t[k] += v
        for k, v in counts.items():
            c[k] += v
    n = sum(len(idx) for idx in groups.values())
    return {
        "groups": len(groups), "candidate_coords": n, "calls": dict(c),
        "open_s": t["open"] / cores, "decode_s": t["decode"] / cores,
        "crs_s": t["crs"] / cores, "interp_s": t["interp"] / cores,
        "decoded_mb": c["decoded_bytes"] / 2**20,
        "block_hit_rate": (1.0 - c["blocks_decoded"] / c["blocks_asked"]
                           if c["blocks_asked"] else 0.0),
        "decoded_px_per_coord": c["decoded_px"] / len(lats),
        "crs_ns_per_coord": t["crs"] / max(n, 1) * 1e9,
        "interp_ns_per_coord": t["interp"] / max(n, 1) * 1e9,
    }


def _detach_event_log(spark) -> None:
    """Stop logging events for the rest of the session: drain the listener
    bus, then take the event-log listener off it. The log is closed (and
    complete up to here) when the session stops."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    sc.removeSparkListener(sc.eventLogger().get())


def run(wl, seconds: float, cores: int, root: str, record: dict):
    evdir = os.path.join(root, "eventlog", f"{os.getpid()}-{int(time.time())}")
    spark, session_s = harness.start_session(root, cores, event_log=evdir)
    wl.spark = spark
    ms = harness.measure(wl, seconds / 2)
    record.update(ms)
    harness.memory(spark, record)
    setups, traced = ms["setups"], ms["passes"]
    spans = Spans()
    counts = prefix_plans(wl, spans)
    _detach_event_log(spark)
    untraced = [harness.timed_pass(wl) for _ in range(harness.MIN_PASSES)]
    sink = sink_layer(wl, spans, root) if wl.documents else None
    part_df = wl.resolver.resolve(wl.points).select(
        "lat", "lon", F.spark_partition_id().alias("part"))
    pdf = spans.run(spark, "replay-collect", part_df.toPandas)
    chk = wl.check(traced + untraced)
    app = spark.sparkContext.applicationId
    spark.stop()
    layers = parse_event_log(os.path.join(evdir, app))
    rep = replay(wl.datasets, pdf["lat"].to_numpy(), pdf["lon"].to_numpy(),
                 pdf["part"].to_numpy(), cores)

    coords = counts["resolve"]["n"]
    med = statistics.median
    wall = {k: spans.median(k, "wall_s") for k in ("scan", "extract", "candidates", "resolve")}
    cpu = {k: spans.median(k, "cpu_s") for k in wall}
    ext_parent = "extract" if wl.documents else "scan"
    children = rep["open_s"] + rep["decode_s"] + rep["crs_s"] + rep["interp_s"]
    res_layer = layers.get("resolve", {"stages": [], "gc_ms": 0, "shuffle_write": 0})
    cand_layer = layers.get("candidates", {"gc_ms": 0})
    sampler = [s for s in res_layer["stages"] if s["reads_shuffle"]]
    m = {k: 0.0 for k in PER_LAYER}
    m.update({
        "session.start_s": session_s,
        "jvm.peak_rss_mb": record["memory"]["jvm_peak_rss_mb"],
        "jvm.heap_peak_mb": record["memory"]["jvm_heap_peak_mb"],
        "tiles.resolver_init_s": med(s["resolver_init_s"] for s in setups),
        "tiles.rasters_indexed": workloads.rasters_indexed(wl.datasets),
        "scan.self_s": wall["scan"],
        "candidates.self_s": max(0.0, wall["candidates"] - wall[ext_parent]),
        "candidates.per_coord": counts["candidates"]["n"] / coords,
        "resolve.self_s": max(0.0, wall["resolve"] - wall["candidates"] - children),
        "resolve.cpu_s": max(0.0, cpu["resolve"] - cpu["candidates"]),
        "resolve.shuffle_bytes_per_coord": res_layer["shuffle_write"] / REPS / coords,
        "resolve.partitions": med(s["tasks"] for s in sampler) if sampler else 0,
        "resolve.task_skew": med(s["skew"] for s in sampler) if sampler else 0.0,
        "resolve.gc_s": max(0.0, res_layer["gc_ms"] - cand_layer["gc_ms"]) / REPS / 1000,
        "geotiff.open_s": rep["open_s"], "geotiff.decode_s": rep["decode_s"],
        "geotiff.decoded_mb": rep["decoded_mb"],
        "geotiff.block_hit_rate": rep["block_hit_rate"],
        "geotiff.decoded_px_per_coord": rep["decoded_px_per_coord"],
        "crs.reproject_ns_per_coord": rep["crs_ns_per_coord"],
        "interpolate.ns_per_coord": rep["interp_ns_per_coord"],
        "outcome.resolved": counts["resolve"]["resolved"],
        "outcome.nodata": counts["resolve"]["nodata"],
        "outcome.null": counts["resolve"]["null"],
        "outcome.fallback": counts["resolve"]["fallback"],
        "trace.coords_per_s": med(p["coords_per_s"] for p in traced),
        "trace.untraced_coords_per_s": med(p["coords_per_s"] for p in untraced),
    })
    m["trace.overhead_coords_per_s"] = (m["trace.coords_per_s"]
                                        - m["trace.untraced_coords_per_s"])
    if wl.documents:
        m.update({
            "iceberg.plan_s": med(s["plan_s"] for s in setups),
            "iceberg.data_files": wl.table["files"],
            "salts.s": med(s["salts_s"] for s in setups),
            "salts.hot_cells": setups[-1]["hot_cells"],
            "salts.partitions": setups[-1]["partitions"],
            "extract.self_s": max(0.0, wall["extract"] - wall["scan"]),
            "extract.cpu_s": max(0.0, cpu["extract"] - cpu["scan"]),
            "extract.points_out": counts["extract"]["n"] - counts["extract"]["errors"],
            "extract.loc_errors": counts["extract"]["errors"],
        })
    if sink is not None:
        sink_wall = spans.median("sink", "wall_s")
        m.update({
            "lineage.checkpoint_s": max(0.0, sink["append_s"] - wall["resolve"]),
            "lineage.readback_s": sink["resumable_s"] - sink["append_s"],
            "lineage.buckets_written": sink["buckets"],
            "sinks.write_s": max(0.0, sink_wall - sink["resumable_s"] - sink["salts_s"]),
            "sinks.bytes_out": sink["results_bytes"],
            "sinks.bytes_per_coord": (sink["results_bytes"] + sink["ckpt_bytes"]) / sink["rows"],
        })
    # self time of the layers a timed pass runs (not the CLI's lineage and
    # sink layers)
    self_time = {
        "scan": m["scan.self_s"], "extract": m["extract.self_s"],
        "candidates": m["candidates.self_s"], "resolve": m["resolve.self_s"],
        "geotiff": rep["open_s"] + rep["decode_s"], "crs": rep["crs_s"],
        "interpolate": rep["interp_s"],
    }
    record.update({
        "session_start_s": session_s, "untraced_passes": untraced,
        "spans": spans.spans, "counts": counts,
        "sink": sink, "event_log_layers": layers, "replay": rep,
        "self_time_s": self_time,
        "self_time_rank": sorted(self_time, key=self_time.get, reverse=True),
        "trace_check": chk, "per_layer": m,
    })
    # the traced CLI run counts as one more pass, checked on its own terms
    pass_ok = chk["pass_ok"] + ([sink["ok"]] if sink is not None else [])
    return spark, {
        "correct": chk["correct"] and all(pass_ok),
        "attempted": len(pass_ok),
        "failed": sum(1 for ok in pass_ok if not ok),
        "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in m.items()},
    }
