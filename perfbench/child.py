"""One Spark process of a benchmark run. run.py starts it and reads the
tagged JSON lines it prints; run.py itself never imports Spark.

Roles:
  run    setup, one cold pass, warm-up passes for --warmup-s, then warm
         passes for --seconds, and at least --min-passes of them;
         every pass is checked against the oracle,
         and the layers no pass result shows are checked once at the end.
  trace  setup with the status UI on, then the per-layer spans (layers.py).
"""

from __future__ import annotations

import argparse
import faulthandler
import json
import signal
import sys
import time

from common import CONF, emit, free_port, jvm_heap_mb, nproc, spark_settings
from workloads import Workload


def start_spark(master: str, traced: bool):
    """SparkSession with its Python workers started: the set-up cost every
    one-shot job pays before it reads its first row."""
    from pyspark.sql.functions import pandas_udf

    from loongcollector_spark.session import get_spark

    port = free_port() if traced else 0
    spark = get_spark(
        app_name="perfbench", master=master, extra_conf=spark_settings(traced, port)
    )
    spark.sparkContext.setLogLevel("ERROR")
    n = spark.sparkContext.defaultParallelism

    @pandas_udf("long")
    def plus_one(s):
        return s + 1

    spark.range(0, 1000 * n, numPartitions=n).select(plus_one("id")).write.format("noop").mode(
        "overwrite"
    ).save()
    return spark, port


def role_run(args, spark, work, setup_s: float) -> None:
    passes, errors, warmups = [], [], 0
    first_s, first_err = work.timed_pass()
    if first_err:
        errors.append(first_err)
    # JIT compilation goes on for several passes after the cold one
    warmup = 0.0
    while warmup < args.warmup_s:
        wall, err = work.timed_pass()
        warmup += wall
        warmups += 1
        if err:
            errors.append(err)
    start = time.perf_counter()
    while len(passes) < args.min_passes or time.perf_counter() - start < args.seconds:
        wall, err = work.timed_pass()
        passes.append(None if err else wall)
        if err:
            errors.append(err)
        if len(errors) > 3:
            break
    layer_err, _ = work.check_layers()
    if layer_err:
        errors.append(layer_err)
    emit(
        {
            "setup_s": setup_s,
            "first_pass_s": None if first_err else first_s,
            "passes": passes,
            "attempted": 1 + warmups + len(passes) + (work.name == "pipeline_text"),
            "failed": len(errors),
            "errors": errors[:5],
            "seqs": work.seqs,
            "tokens": work.tokens,
            "jvm_heap_mb": jvm_heap_mb(spark),
        }
    )


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--role", choices=("run", "trace"), required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--t0", type=float, required=True, help="time.monotonic() when the parent spawned this process")
    ap.add_argument("--master", default=CONF["master"].format(nproc=nproc()))
    ap.add_argument("--warmup-s", type=float, help="warm-up before the timed passes (default: the workload's)")
    ap.add_argument("--min-passes", type=int, default=CONF["min_passes"], help="fewest timed passes")
    ap.add_argument("--drop-row", action="store_true", help="gate self-test: drop one row of every pass")
    ap.add_argument("--data", required=True, help="input directory written by inputs.py")
    ap.add_argument("--oracle", required=True, help="JSON oracle written by run.py")
    ap.add_argument("--rows", type=int, required=True, help="sequences or documents in --data")
    args = ap.parse_args()
    if args.warmup_s is None:
        args.warmup_s = CONF[args.workload]["warmup_s"]
    faulthandler.register(signal.SIGUSR1, all_threads=True)

    spark, port = start_spark(args.master, traced=args.role == "trace")
    setup_s = time.monotonic() - args.t0
    with open(args.oracle) as fh:
        oracle = json.load(fh)
    try:
        work = Workload(spark, args.workload, args.data, args.rows, oracle, args.drop_row)
        if args.role == "run":
            role_run(args, spark, work, setup_s)
        else:
            import layers

            emit(layers.trace(spark, port, work, args.seed, setup_s))
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
