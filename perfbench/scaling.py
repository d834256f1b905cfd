"""Scaling baseline for the batch workload (not gated):

    python3 perfbench/scaling.py --seed 1

Runs the ``backfill`` pass on ``local[1]`` and on ``local[N]`` (N = CPUs this
process may use), each after ``backfill.warm_up`` over the same input, and
prints one JSON line with both pass times and the speed-up; the same object
goes to ``.perfbench_out/scaling-<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

import backfill
import gen
import run


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="backfill pass on local[1] vs local[N]")
    ap.add_argument("--seed", type=int, required=True)
    args = ap.parse_args(argv)
    sys.path.insert(0, run.ROOT)
    work = os.path.join(run.ROOT, ".perfbench_work", f"scaling-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    extra_conf = run.prepare_env(work)
    from apmbackend_spark.session import get_spark

    try:
        inp = gen.write_backfill(os.path.join(work, "input"), args.seed, "full")
        out = backfill.out_paths(work)
        result = {"seed": args.seed, "records": inp["n_events"] + inp["n_log_lines"]}
        spark = None
        for cpus in sorted({run.cpu_count(), 1}, reverse=True):
            if spark is not None:
                spark.stop()
            os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
            spark = get_spark(f"perfbench-scaling-{cpus}", extra_conf=extra_conf)
            backfill.warm_up(spark, inp, out)
            t0 = time.perf_counter()
            backfill.run_pass(spark, inp, out)
            result[f"pass_s_local{cpus}"] = time.perf_counter() - t0
        run.stop_spark(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    n = run.cpu_count()
    result["speedup"] = result["pass_s_local1"] / result[f"pass_s_local{n}"]
    with open(os.path.join(run.out_dir(), f"scaling-{args.seed}.json"), "w") as f:
        json.dump(result, f)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
