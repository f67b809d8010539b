"""Enrichment: per-drug / per-condition summaries and the fuzzy
string-containment theta-join (the reference's centerpiece operator,
drug_transformer.py:189-288 — reimplemented Spark-first).

Reference semantics reproduced exactly (SURVEY.md §2.3 J1, §7.5.2):
  * left side: per-drug FDA summary (count/avg/sum aggregates);
  * right side: per-condition CT summary (pre-aggregated — shrinking
    the join's right side BEFORE the theta-join, which is what makes it
    broadcast-able);
  * match when normalized indication ⊆ condition OR condition ⊆
    indication, any-of over the drug's distinct non-empty indications;
  * each matched condition counts ONCE per drug even if several
    indications hit it -> dedupe (drug, condition) before summing;
  * drugs with no match (or no indications) get zeros, not nulls.

Physical strategy: BroadcastNestedLoopJoin with the condition summary
broadcast. The right side is small post-aggregation (distinct
conditions), so even at 100 TB of raw events the theta-join input is
|distinct(drug, indication)| x |distinct conditions| — and the explode/
distinct both happen map-side before the broadcast join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import medical as M


def fda_summary(fda_t: DataFrame) -> DataFrame:
    """Per-drug aggregates (drug_transformer.py:198-211).  The sums
    COALESCE to 0: pandas groupby sum of an all-NaN group is 0 (its
    min_count=0 default), while Spark SUM would emit NULL — the
    reference's zeros-not-nulls contract.  mean of all-NaN stays
    NaN/NULL on both engines, so avg is left alone."""
    return fda_t.groupBy(F.col("drug_name_clean").alias("drug_name")).agg(
        F.count("safetyreportid").alias("adverse_event_count"),
        F.avg("severity_score").alias("avg_severity_score"),
        F.coalesce(F.sum("seriousnessdeath"), F.lit(0))
        .cast("long")
        .alias("death_count"),
        F.coalesce(F.sum("seriousnesshospitalization"), F.lit(0))
        .cast("long")
        .alias("hospitalization_count"),
    )


def ct_summary(ct_t: DataFrame) -> DataFrame:
    """Per-condition aggregates (drug_transformer.py:217-228). The
    reference sums the boolean is_completed (True==1); sums COALESCE
    to 0 for all-NaN groups (pandas sum semantics, see fda_summary)."""
    return ct_t.groupBy(F.col("conditions_clean").alias("condition")).agg(
        F.count("nct_id").alias("trial_count"),
        F.coalesce(F.sum("enrollment_count"), F.lit(0))
        .cast("double")
        .alias("total_enrollment"),
        F.coalesce(F.sum(F.col("is_completed").cast("int")), F.lit(0))
        .cast("long")
        .alias("completed_trials"),
    )


def containment_match(indications: DataFrame, conditions: DataFrame) -> DataFrame:
    """Theta-join on bidirectional substring containment.

    indications: (drug_name, indication_norm) distinct, non-empty.
    conditions:  per-condition summary + condition_norm.
    Returns (drug_name, condition, trial_count, total_enrollment,
    completed_trials) with one row per matched (drug, condition) pair.

    Note contains(x, '') is true in both Spark and Python — an
    empty-normalized condition matches every drug with >=1 non-empty
    indication, exactly like the reference's `x in ind` Python check
    (drug_transformer.py:257-261).
    """
    pred = F.col("condition_norm").contains(F.col("indication_norm")) | F.col(
        "indication_norm"
    ).contains(F.col("condition_norm"))
    return (
        indications.join(F.broadcast(conditions), pred, "inner")
        # any-of semantics: one row per (drug, condition) no matter how
        # many of the drug's indications matched the condition
        .select(
            "drug_name", "condition", "trial_count", "total_enrollment",
            "completed_trials",
        )
        .distinct()
    )


def enrich(fda_t: DataFrame | None, ct_t: DataFrame | None) -> DataFrame:
    """Full enrichment with the reference's fallback logic
    (drug_transformer.py:196-288, J3 in SURVEY.md §2.3).

    Emptiness/column checks mirror the reference's driver-side plan
    assembly: FDA-only -> fda_summary; CT-only -> ct_summary; both ->
    containment-join enrichment.
    """
    fda_has = fda_t is not None and len(fda_t.columns) > 0
    ct_has = ct_t is not None and len(ct_t.columns) > 0

    if fda_has and not ct_has:
        return fda_summary(fda_t)
    if ct_has and not fda_has:
        return ct_summary(ct_t)
    if not fda_has and not ct_has:
        raise ValueError("both inputs empty")

    enriched = fda_summary(fda_t)
    if "drug_indication" not in fda_t.columns:
        # Reference keeps the FDA summary untouched when it cannot map
        # drugs to conditions (drug_transformer.py:231 guard).
        return enriched

    indications = (
        fda_t.select(
            F.col("drug_name_clean").alias("drug_name"),
            M.normalize_for_join("drug_indication").alias("indication_norm"),
        )
        .where(F.col("indication_norm") != "")  # `if ind` guard (:259)
        .distinct()
    )
    conditions = ct_summary(ct_t).withColumn(
        "condition_norm", M.normalize_for_join("condition")
    )
    matched = containment_match(indications, conditions)
    trial_stats = matched.groupBy("drug_name").agg(
        F.sum("trial_count").alias("trial_count"),
        F.sum("total_enrollment").alias("total_enrollment"),
        F.sum("completed_trials").alias("completed_trials"),
    )
    # Left join back to ALL drugs; zero-fill non-matches (not null —
    # reference zero-dict at drug_transformer.py:270-275).
    return enriched.join(trial_stats, "drug_name", "left").select(
        enriched["drug_name"],
        "adverse_event_count",
        "avg_severity_score",
        "death_count",
        "hospitalization_count",
        F.coalesce(F.col("trial_count"), F.lit(0)).cast("long").alias("trial_count"),
        F.coalesce(F.col("total_enrollment"), F.lit(0.0))
        .cast("double")
        .alias("total_enrollment"),
        F.coalesce(F.col("completed_trials"), F.lit(0))
        .cast("long")
        .alias("completed_trials"),
    )
