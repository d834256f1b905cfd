"""Per-query profiler: splits each named query into PLAN-CONSTRUCTION
(Python call that builds the DataFrame — includes every eager
localCheckpoint job and AQE stage materialization forced during
construction) and EXECUTION (noop sink of the final plan), and counts
the Spark jobs each phase submitted (driver-blocking jobs during build
are the r10 verdict's #1 structural finding).

Usage:
    python scripts/profile_query.py [sf_dir] query [query ...]
    python scripts/profile_query.py --reps 3 [sf_dir] query ...

Prints one line per (query, rep): build_s exec_s build_jobs exec_jobs.
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _n_jobs(spark) -> int:
    """Total jobs submitted so far (REST API; localhost only): succeeded,
    failed and still running. -1 when the REST API cannot be read."""
    base = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    url = (
        f"{base}/api/v1/applications/{app}/jobs"
        "?status=succeeded&status=failed&status=running"
    )
    try:
        with urllib.request.urlopen(url, timeout=10) as r:
            return len(json.load(r))
    except Exception:
        return -1


def _delta(j0: int, j1: int) -> str:
    """Jobs between two _n_jobs snapshots; '?' if either read failed."""
    return "?" if -1 in (j0, j1) else str(j1 - j0)


def main() -> None:
    args = sys.argv[1:]
    reps = 1
    if args and args[0] == "--reps":
        reps = int(args[1])
        args = args[2:]
    if args and os.path.isdir(args[0]):
        sf_dir, names = args[0], args[1:]
    else:
        sf_dir, names = os.environ.get(
            "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
        ), args

    import __spark_entry__ as e
    from apmbackend_spark.session import get_spark

    spark = get_spark("profile", extra_conf={"spark.ui.enabled": "true"})
    qs = e.queries()
    # warmup, mirroring bench.py
    qs["window_stats"](spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()
    spark.catalog.clearCache()

    print(f"{'query':32s} {'build_s':>8s} {'exec_s':>8s} "
          f"{'bjobs':>6s} {'ejobs':>6s}  load1={os.getloadavg()[0]:.2f}")
    for name in names:
        for _ in range(reps):
            fn = qs[name]
            j0 = _n_jobs(spark)
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            t1 = time.perf_counter()
            j1 = _n_jobs(spark)
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            j2 = _n_jobs(spark)
            print(
                f"{name:32s} {t1 - t0:8.2f} {t2 - t1:8.2f} "
                f"{_delta(j0, j1):>6s} {_delta(j1, j2):>6s}"
            )
            spark.catalog.clearCache()


if __name__ == "__main__":
    main()
