"""diabetes/features.py:feature_correlation — the one Pearson
implementation behind both the medallion pipeline's
``diabetes_feature_correlation`` table and the registry's
``diab_gold_feature_correlation`` query."""

from __future__ import annotations

from diabetes_etl_spark.context import RunContext
from diabetes_etl_spark.diabetes.pipeline_def import build_diabetes_pipeline
from diabetes_etl_spark.pipeline.registry import PipelineRunner
from diabetes_etl_spark.plans.diabetesplans import gold_feature_correlation

_HEADER = (
    "Pregnancies,Glucose,BloodPressure,SkinThickness,Insulin,BMI,"
    "DiabetesPedigreeFunction,Age,Outcome"
)


def test_constant_cell_gives_null_corr_not_divide_by_zero(spark, tmp_path):
    """A cell of two rows with a constant Glucose has no Glucose
    variance: Pearson r is undefined and comes out NULL, where F.corr
    raised DIVIDE_BY_ZERO under ANSI mode."""
    src = tmp_path / "landing"
    src.mkdir()
    (src / "feed.csv").write_text(
        "\n".join(
            [
                _HEADER,
                # both: Young (< 30), BMI Normal
                "1,120,70,20,80,22.0,0.5,25,0",
                "2,120,72,22,85,24.0,0.4,26,1",
                # a 3-row Middle Age / Obese cell, variance everywhere
                "3,100,60,25,90,31.0,0.3,45,0",
                "4,140,80,30,95,33.0,0.6,42,1",
                "6,130,75,28,70,35.0,0.7,47,1",
            ]
        )
        + "\n"
    )
    ctx = RunContext(fixed_now="2024-06-01 12:00:00", fixed_run_id="t")
    runner = PipelineRunner(
        build_diabetes_pipeline(str(src), ctx=ctx), spark, mode="views"
    )
    rows = {
        r.age_group: r
        for r in runner.materialize("diabetes_feature_correlation").collect()
    }
    const = rows["Young (< 30)"]
    assert const.sample_size == 2
    assert const.glucose_bmi_corr is None
    assert const.insulin_glucose_corr is None
    assert const.bp_bmi_corr == 1.0  # two distinct points: r = 1
    assert const.correlation_strength == "Weak"
    assert rows["Middle Age (40-49)"].glucose_bmi_corr is not None

    # the registry's gold query is the same function, re-stamped
    silver = runner.materialize("diabetes_silver")
    gold = gold_feature_correlation(silver).drop("created_at").collect()
    pipe = runner.materialize("diabetes_feature_correlation").drop(
        "created_at"
    )
    assert sorted(map(tuple, gold)) == sorted(map(tuple, pipe.collect()))
