"""Session start, timed passes and their summary, shared by the untraced
and the traced run."""

from __future__ import annotations

import os
import statistics
import sys
import tempfile
import time

import proctree

SETUP_REPEATS = 3  # set-up steps repeated in one driver; setup_s takes the median
MIN_PASSES = 4
# the ramp after a cold start runs to about pass 12 on docs_mixed and
# pass 3 on tiles_cold (README.md, "Steadiness")
WARM_PASSES = {"docs_mixed": 12, "tiles_cold": 3}


def log(*a) -> None:
    print(*a, file=sys.stderr, flush=True)


def prepare_env(root: str) -> None:
    """Keep every file Spark, the JVM and the workers write inside the
    checkout: temp dir (worker zip, Python temp files), JVM tmpdir, shuffle
    spill and warehouse all point under the cache."""
    tmp = os.path.join(root, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # HotSpot writes its perf-data file to /tmp whatever java.io.tmpdir says;
    # this covers the launcher JVM that spark-submit starts first
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    # the program's own default driver heap, whatever the caller's shell says
    os.environ.pop("SPARK_DRIVER_MEM", None)


def start_session(root: str, cores: int, event_log: str | None = None):
    from opentopodata_spark.session import get_spark

    tmp = os.path.join(root, "tmp")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(tmp, "spark-local"),
        # the heap starts at 3 GB, about where G1 grows it to over a long
        # docs_mixed run; starting small, the heap's growth was a second
        # warm-up ramp that ran past pass 20. The limit stays the program's,
        # nothing is pre-touched, and the JVM's memory is reported on its own
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms3g -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    t0 = time.perf_counter()
    spark = get_spark(app_name="flagbench", cores=cores, master=f"local[{cores}]",
                      extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def timed_pass(wl) -> dict:
    c0 = proctree.tree_cpu()
    t0 = time.perf_counter()
    out = wl.run_pass()
    wall = time.perf_counter() - t0
    cpu = proctree.tree_cpu() - c0
    rows = out["rows"]
    out.update({"wall_s": round(wall, 4), "cpu_s": round(cpu, 3),
                "coords_per_s": rows / wall, "cpu_us_per_coord": cpu / rows * 1e6})
    return out


def measure(wl, seconds: float) -> dict:
    """Set up (repeated), warm, then closed-loop timed passes for ``seconds``.
    The session must already be running; ``wl.spark`` is it."""
    setups = []
    for _ in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        parts = wl.setup()
        parts["total_s"] = time.perf_counter() - t0
        setups.append(parts)
    warm = []
    for _ in range(WARM_PASSES[wl.name]):
        warm.append(timed_pass(wl))
        log(f"  warm  {warm[-1]['wall_s']:.3f}s {warm[-1]['coords_per_s']:.0f}/s")
    passes = []
    t_end = time.perf_counter() + seconds
    while time.perf_counter() < t_end or len(passes) < MIN_PASSES:
        passes.append(timed_pass(wl))
        log(f"  pass  {passes[-1]['wall_s']:.3f}s {passes[-1]['coords_per_s']:.0f}/s "
            f"{passes[-1]['cpu_us_per_coord']:.1f}us")
    return {"setups": setups, "warm": warm, "passes": passes}


def summarise(session_s: float, m: dict) -> dict:
    passes = m["passes"]
    setup_med = statistics.median([s["total_s"] for s in m["setups"]])
    warm_s = sum(p["wall_s"] for p in m["warm"])
    half = len(passes) // 2
    first = statistics.median([p["coords_per_s"] for p in passes[:half]])
    second = statistics.median([p["coords_per_s"] for p in passes[-half:]])
    return {
        "coords_per_s": statistics.median([p["coords_per_s"] for p in passes]),
        "cpu_us_per_coord": statistics.median([p["cpu_us_per_coord"] for p in passes]),
        "setup_s": session_s + setup_med + warm_s,
        "setup_parts": {"session_start_s": session_s, "setup_median_s": setup_med,
                        "warm_s": warm_s, "warm_passes": len(m["warm"])},
        "ramp": {"first_half_coords_per_s": first, "second_half_coords_per_s": second,
                 "rel_diff": (second - first) / first},
    }


E2E_UNITS = {"coords_per_s": "1/s", "cpu_us_per_coord": "us", "setup_s": "s",
             "python_peak_rss_mb": "MB"}


def memory(spark, record: dict) -> dict:
    """Peak memory so far, into ``record``. The JVM's resident memory is set
    by G1's heap sizing more than by what the program holds, so the JVM is
    reported on its own, with its heap high-water mark, beside the Python
    processes' resident memory."""
    rss_by_process = proctree.tree_peak_rss_mb()
    mem = {
        "python_peak_rss_mb": sum(v for k, v in rss_by_process.items()
                                  if not k.endswith(":java")),
        "jvm_peak_rss_mb": sum(v for k, v in rss_by_process.items() if k.endswith(":java")),
        "jvm_heap_peak_mb": proctree.jvm_heap_peak_mb(spark),
    }
    record.update({"memory": mem, "peak_rss_mb_by_process": rss_by_process})
    return mem


def untraced(wl, seconds: float, cores: int, root: str, record: dict):
    """The end-to-end measurement: returns (session, result). Fills
    ``record`` with every set-up, warm and timed pass and the checks."""
    spark, session_s = start_session(root, cores)
    wl.spark = spark
    m = measure(wl, seconds)
    mem = memory(spark, record)  # before the checks' own work
    chk = wl.check(m["passes"])
    summ = summarise(session_s, m)
    record.update(m)
    record.update({"summary": summ, "check": chk})
    metrics = {k: summ[k] for k in ("coords_per_s", "cpu_us_per_coord", "setup_s")}
    metrics["python_peak_rss_mb"] = mem["python_peak_rss_mb"]
    return spark, {
        "correct": chk["correct"],
        "attempted": len(m["passes"]),
        "failed": sum(1 for ok in chk["pass_ok"] if not ok),
        "metrics": {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in metrics.items()},
    }
