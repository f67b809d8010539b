"""End-to-end pipeline assembly: the reference DAG's data plane as ONE
lazy Spark plan per run.

Reference lifecycle (SURVEY.md §3): extract -> validate counts ->
transform -> enrich -> save -> quality-check, spread across Airflow
workers and a K8s pod with S3 hops between every stage. Here stages
2-6 compose into a single DataFrame graph; Catalyst optimizes across
what used to be process boundaries, and the only materializations are
the final writes and the quality aggregates.

Entry points mirror the reference's three (drug_transformer.py:355-366,
data_quality.py:299-322): run(), plus transform/quality CLIs in cli.py.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from ..operators import enrich, quality, transforms
from ..sources import lake


@dataclass
class RunResult:
    date: str
    fda_records: int = 0
    ct_records: int = 0
    enriched_records: int = 0
    quality: dict = field(default_factory=dict)
    status: str = "success"


def completion_summary(result: RunResult, output_base: str) -> str:
    """Human-readable run notification (reference
    medical_etl_dag.py:136-158 semantics: date, per-source record
    counts, and the day's processed-partition path). The caller wires
    it to whatever alerting exists; like the reference, the message IS
    the contract."""
    processed = lake.partition_path(f"{output_base}/processed", result.date)
    return (
        "Medical ETL Pipeline Completed "
        + ("Successfully" if result.status == "success" else f"({result.status})")
        + f"\n\nDate: {result.date}"
        + f"\nFDA Records: {result.fda_records}"
        + f"\nClinical Trials: {result.ct_records}"
        + f"\nEnriched Records: {result.enriched_records}"
        + f"\n\nData available at:\n{processed}/"
    )


def run(
    spark: SparkSession,
    date: str,
    fda_events: DataFrame | None,
    clinical_trials: DataFrame | None,
    output_base: str,
    processed_ts=None,
    quality_config: dict | None = None,
) -> RunResult:
    """Transform both inputs, enrich, write the processed partition and
    CSV head, run the quality suite. Inputs arrive as DataFrames (from
    sources.rest fetches, lake.read_partition, or tests)."""
    fda_t = (
        transforms.transform_fda_events(fda_events, processed_ts=processed_ts)
        if fda_events is not None
        else None
    )
    ct_t = (
        transforms.transform_clinical_trials(clinical_trials, processed_ts=processed_ts)
        if clinical_trials is not None
        else None
    )

    # transforms feed the enrichment, their own counts, AND the quality
    # union; the enriched frame feeds two writes and a count — without
    # the persists each consumer would replay the transform lineage
    # (and the containment theta-join, the most expensive stage) from
    # scratch, ~3x the work per run
    cached = [df for df in (fda_t, ct_t) if df is not None]
    for df in cached:
        df.persist()
    try:
        enriched = enrich.enrich(fda_t, ct_t).persist()
        cached.append(enriched)

        lake.write_partitioned(enriched, f"{output_base}/processed", date)
        lake.write_csv_head(
            enriched, f"{lake.partition_path(output_base + '/summary', date)}"
        )

        result = RunResult(date=date)
        result.fda_records = fda_t.count() if fda_t is not None else 0
        result.ct_records = ct_t.count() if ct_t is not None else 0
        result.enriched_records = enriched.count()

        # Quality gate runs on the union of transformed inputs (the
        # shape the reference checker expects, data_quality.py:100-296).
        parts = [df for df in (fda_t, ct_t) if df is not None]
        combined = parts[0]
        for p in parts[1:]:
            combined = combined.unionByName(p, allowMissingColumns=True)
        result.quality = quality.run_quality_checks(
            combined, date, config=quality_config
        )
        if not result.quality["overall_passed"]:
            result.status = "quality_failed"
        return result
    finally:
        for df in cached:
            df.unpersist()


def backfill(
    spark: SparkSession,
    dates: list[str],
    load_inputs,
    output_base: str,
    stop_on_failure: bool = False,
    quality_config: dict | None = None,
) -> list[RunResult]:
    """Multi-day backfill: the reference's daily DAG replayed over a
    date range (the operation a new deployment or a schema fix always
    needs, which the reference leaves to manually re-triggering
    Airflow runs one day at a time).

    ``load_inputs(spark, date) -> (fda_df | None, ct_df | None)``
    supplies each day's raw inputs — from `lake.read_partition`, a
    REST fetch, or a test fixture. Days run sequentially and
    independently: each day's `run()` writes only its own partition
    (dynamic partition overwrite), so a failed day leaves every other
    day intact and re-running the backfill is idempotent. A day whose
    loader or run raises records a RunResult with status "error"
    instead of killing the rest (matching Airflow's per-run isolation)
    unless ``stop_on_failure`` is set.
    """
    results: list[RunResult] = []
    for date in dates:
        try:
            fda_df, ct_df = load_inputs(spark, date)
            r = run(
                spark,
                date,
                fda_df,
                ct_df,
                output_base,
                quality_config=quality_config,
            )
        except Exception as exc:  # noqa: BLE001 — per-day isolation
            r = RunResult(date=date, status=f"error: {exc}"[:200])
        results.append(r)
        if stop_on_failure and r.status != "success":
            break
    return results
