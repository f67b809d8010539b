"""The driver JVM's compile budget set by session.get_spark: a codegen
class cache that holds a daily run's working set, and HotSpot's C2
tier deferred through spark.driver.defaultJavaOptions."""

import datetime as dt
import json
import os
import subprocess
import sys

from cloud_native_medical_data_etl_pipeline_spark import schemas, session

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TIER4_FLAGS = session._DRIVER_JIT_OPTIONS.split()


def test_codegen_cache_holds_a_daily_working_set(spark):
    entries = int(spark.conf.get("spark.sql.codegen.cache.maxEntries"))
    assert entries == session._CODEGEN_CACHE_ENTRIES
    # a daily run generates ~106 classes; Spark's default is 100
    assert entries >= 1000


_PROBE = """
import json
from cloud_native_medical_data_etl_pipeline_spark.session import get_spark

spark = get_spark(
    app_name="session-probe",
    master="local[1]",
    shuffle_partitions=1,
    extra_conf={"spark.driver.extraJavaOptions": "-Dsession.probe=1 -XX:-UsePerfData"},
)
mx = spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
print(json.dumps(list(mx.getInputArguments())))
spark.stop()
"""


def test_driver_jvm_gets_tier4_flags_next_to_caller_java_options():
    """A caller's own spark.driver.extraJavaOptions (perfbench passes a
    tmpdir and -XX:-UsePerfData) must not replace the C2 thresholds.
    JVM options are fixed at launch, so this boots its own driver."""
    env = dict(os.environ, SPARK_DRIVER_MEMORY="1g", PYTHONPATH=ROOT)
    out = subprocess.run(
        [sys.executable, "-c", _PROBE],
        env=env,
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=300,
        check=True,
    ).stdout
    args = json.loads(out.strip().splitlines()[-1])
    for flag in TIER4_FLAGS:
        assert flag in args, args
    assert "-Dsession.probe=1" in args and "-XX:-UsePerfData" in args, args
    # hot loops must still reach C2 through on-stack replacement
    assert not any(a.startswith("-XX:Tier4BackEdgeThreshold") for a in args)
    assert not any(a.startswith("-XX:TieredStopAtLevel") for a in args)


def _janino_compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def _day(spark):
    fda = spark.createDataFrame(
        [
            {
                "safetyreportid": f"r{i}",
                "receivedate": dt.date(2024, 1, 10 + i % 3),
                "serious": i % 2,
                "seriousnessdeath": 0,
                "seriousnesshospitalization": i % 2,
                "drug_name": (" aspirin", "IBUPROFEN ", "Metformin")[i % 3],
                "drug_indication": ("Headache", "Chronic pain", "Type 2 diabetes")[i % 3],
                "reaction": "X",
                "patient_age": 30.0 + i,
                "patient_sex": str(1 + i % 2),
            }
            for i in range(12)
        ],
        schema=schemas.FDA_EVENTS,
    )
    ct = spark.createDataFrame(
        [
            {
                "nct_id": f"NCT{i}",
                "brief_title": "T",
                "overall_status": ("COMPLETED", "RECRUITING")[i % 2],
                "phase": "PHASE 2",
                "enrollment_count": 100.0 + i,
                "conditions": ("HEADACHE", "CHRONIC PAIN", "TYPE 2 DIABETES")[i % 3],
                "start_date": dt.date(2023, 1, 1),
                "completion_date": dt.date(2024, 1, 1),
            }
            for i in range(9)
        ],
        schema=schemas.CLINICAL_TRIALS,
    )
    return fda, ct


def test_rerun_of_a_day_reuses_compiled_classes(spark, tmp_path):
    """A second run of the same day must find its whole-stage-codegen
    classes in the cache. With a cache smaller than a run's working set
    the LRU evicts them within the run and the re-run compiles most of
    them again."""
    from cloud_native_medical_data_etl_pipeline_spark.plans import pipeline

    fda, ct = _day(spark)
    compiled = []
    for _ in range(2):
        c0 = _janino_compiles(spark)
        result = pipeline.run(
            spark, "2024-01-15", fda, ct, str(tmp_path / "out"),
            processed_ts="2024-01-15 12:00:00",
        )
        compiled.append(_janino_compiles(spark) - c0)
        assert result.status == "success"
    first, second = compiled
    assert second * 10 <= first, compiled
