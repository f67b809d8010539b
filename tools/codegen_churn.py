#!/usr/bin/env python
"""Per-job compile cost of consecutive daily ETL runs in one driver.

Runs the benchmark's `daily_etl` job (perfbench/workloads.py: two lake
JSON reads, then `pipeline.run`) N times on the same seeded day in one
Spark session and prints, per job: wall seconds, CPU seconds of the
driver's process tree (Python, JVM, Python workers), the part of those
spent in the JVM's JIT compiler threads, and the number of classes
Janino compiled (whole-stage codegen and generated projections).

Job 0 is the cold job a fresh driver pays (perfbench counts it in
`setup_s`); later jobs show what a re-run of the same plans costs.
With a code-generation cache smaller than a job's working set the
Janino count stays high on every job, and the JIT recompiles each
fresh class.

    python tools/codegen_churn.py --jobs 4 --seed 21
    python tools/codegen_churn.py --jobs 2 --events 150000 --trials 15000

Prints one line per job, then a JSON summary line.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import gen  # noqa: E402
from perfbench.run import JobMeter  # noqa: E402


def janino_compiles(spark) -> int:
    """Classes compiled by Janino since the JVM started."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--jobs", type=int, default=4)
    ap.add_argument("--seed", type=int, default=21)
    ap.add_argument("--events", type=int, default=gen.ETL_EVENTS_PER_DAY)
    ap.add_argument("--trials", type=int, default=gen.ETL_TRIALS_PER_DAY)
    args = ap.parse_args()
    gen.ETL_EVENTS_PER_DAY, gen.ETL_TRIALS_PER_DAY = args.events, args.trials

    from pyspark import SparkContext

    from cloud_native_medical_data_etl_pipeline_spark import schemas
    from cloud_native_medical_data_etl_pipeline_spark.plans import pipeline
    from cloud_native_medical_data_etl_pipeline_spark.session import get_spark
    from cloud_native_medical_data_etl_pipeline_spark.sources import lake

    work = tempfile.mkdtemp(prefix="codegen-churn-")
    spark = meter = None
    try:
        day = gen.write_etl_day(os.path.join(work, "lake"), args.seed, 0)
        cores = len(os.sched_getaffinity(0))
        spark = get_spark(
            app_name="codegen-churn",
            master=f"local[{cores}]",
            shuffle_partitions=cores,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": os.path.join(work, "spark-local"),
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        meter = JobMeter(SparkContext._gateway.proc.pid)
        out = os.path.join(work, "out")
        rows = []
        for i in range(args.jobs):
            shutil.rmtree(out, ignore_errors=True)
            c0, t0 = janino_compiles(spark), time.perf_counter()
            meter.on_timed(True)
            reads = [
                lake.read_partition(
                    spark, f"{work}/lake/raw/{sub}", day["date"], schema=schema, fmt="json"
                )
                for sub, schema in (
                    ("fda", schemas.FDA_EVENTS),
                    ("clinicaltrials", schemas.CLINICAL_TRIALS),
                )
            ]
            fda, ct = (df if df.take(1) else None for df in reads)
            result = pipeline.run(spark, day["date"], fda, ct, out)
            meter.on_timed(False)
            row = {
                "job": i,
                "wall_s": round(time.perf_counter() - t0, 2),
                "cpu_s": round(meter.cpu_s[-1], 2),
                "jit_cpu_s": round(meter.jit_s[-1], 2),
                "janino_compiles": janino_compiles(spark) - c0,
                "status": result.status,
            }
            rows.append(row)
            print(" ".join(f"{k}={v}" for k, v in row.items()), flush=True)
        print(json.dumps({"events": args.events, "trials": args.trials, "jobs": rows}))
    finally:
        if meter is not None:
            meter.close()
        if spark is not None:
            spark.stop()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
