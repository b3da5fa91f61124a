"""Flagship-pipeline benchmark: one workload, one seed, one JSON line.

    python3 flagbench/run.py --workload docs_mixed --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Inputs and scratch space live under
``.bench_cache/flagbench`` in that checkout. ``--trace 0`` prints the
end-to-end metrics, ``--trace 1`` the per-layer ones (see README.md).
The last line of stdout is the result; progress and the run record's
summary go to stderr, the full run record to
``.bench_cache/flagbench/records/``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ns = ap.parse_args(argv)

    # benchmark the checkout's own source, never an installed copy
    sys.path.insert(0, REPO)
    try:
        import opentopodata_spark
    except ImportError as e:
        print(f"flagbench: no opentopodata_spark package in {REPO}: {e}", file=sys.stderr)
        return 2
    if os.path.dirname(os.path.dirname(os.path.abspath(opentopodata_spark.__file__))) != REPO:
        print(f"flagbench: opentopodata_spark imported from {opentopodata_spark.__file__}, "
              f"not from {REPO}", file=sys.stderr)
        return 2
    import harness
    import inputs
    import proctree
    import workloads

    if ns.workload not in workloads.WORKLOADS:
        harness.log(f"flagbench: unknown workload {ns.workload!r}; "
                    f"choose from {sorted(workloads.WORKLOADS)}")
        return 2
    root = inputs.cache_root(REPO)
    harness.prepare_env(root)
    cores = len(os.sched_getaffinity(0))

    t_gen = time.perf_counter()
    wl = workloads.WORKLOADS[ns.workload](None, root, ns.seed)
    sizes = wl.inputs()
    record = {"workload": ns.workload, "seed": ns.seed, "seconds": ns.seconds,
              "trace": ns.trace, "cores": cores, "inputs": sizes,
              "input_prep_s": round(time.perf_counter() - t_gen, 3),
              "weather": proctree.weather(REPO, cores)}
    spark = None
    try:
        if ns.trace:
            import tracing

            spark, result = tracing.run(wl, ns.seconds, cores, root, record)
        else:
            spark, result = harness.untraced(wl, ns.seconds, cores, root, record)
    finally:
        record["killed_at_exit"] = proctree.stop_spark(spark)
    _write_record(root, record)
    harness.log("flagbench: " + json.dumps({k: record[k] for k in ("inputs", "weather")}))
    print(json.dumps(result), flush=True)
    return 0


def _write_record(root: str, record: dict) -> None:
    d = os.path.join(root, "records")
    os.makedirs(d, exist_ok=True)
    name = f"{record['workload']}-s{record['seed']}-t{record['trace']}-{int(time.time())}.json"
    with open(os.path.join(d, name), "w") as f:
        json.dump(record, f, indent=1, default=str)


if __name__ == "__main__":
    sys.exit(main())
