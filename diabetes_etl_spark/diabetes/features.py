"""Silver-layer transformations: median imputation + feature engineering.

Behavioral parity with the reference silver table (reference:
src/diabetes_etl_pipeline.py:101-259) with the documented quirk
decisions from SURVEY.md §4:

1. **Flag-first imputation** (quirk 1): the reference computes each
   `*_imputed` flag *after* replacing the column, so flags are always
   False; the documented intent (pipeline:103,115-117) is flag-then-
   impute.  We implement the intent: flags reflect the raw zeros.
2. **Deterministic types** (quirk 3): the five imputed measures are
   cast to DOUBLE unconditionally.
3. **In-plan medians** (SURVEY §7.4): the reference runs five separate
   `collect()` round-trips to fetch nonzero medians before building
   the silver plan (pipeline:123-155) — 5 driver-blocking Spark jobs.
   Here all five medians come from ONE aggregate computed in-plan and
   broadcast-cross-joined back; the plan stays lazy and works at any
   scale.  `median` is exact (Spark >= 3.4); `percentile_approx` is a
   drop-in for the 100 TB path (mergeable sketch).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from diabetes_etl_spark.diabetes.schema import FALLBACK_MEDIANS

IMPUTE_COLS = ("Glucose", "BloodPressure", "SkinThickness", "Insulin", "BMI")
_FLAG_NAMES = {
    "Glucose": "glucose_imputed",
    "BloodPressure": "bp_imputed",
    "SkinThickness": "skin_imputed",
    "Insulin": "insulin_imputed",
    "BMI": "bmi_imputed",
}


def nonzero_medians(df: DataFrame, approx: bool = False) -> DataFrame:
    """One-row DataFrame with the nonzero median of each impute column.

    `when(col > 0, col)` without otherwise yields NULL for zeros, and
    median/percentile_approx ignore NULLs — i.e. `filter(col > 0)`
    semantics (reference: pipeline:123-155) in a single pass over the
    data instead of five.
    """
    def med(c: str) -> Column:
        nonzero = F.when(F.col(c) > 0, F.col(c).cast("double"))
        agg = (
            F.percentile_approx(nonzero, 0.5) if approx else F.median(nonzero)
        )
        return F.coalesce(agg, F.lit(FALLBACK_MEDIANS[c])).alias(f"__med_{c}")

    return df.agg(*[med(c) for c in IMPUTE_COLS])


def impute_and_flag(df: DataFrame, medians: DataFrame) -> DataFrame:
    """Median-replace zeros in the five measures; flags from raw values."""
    out = df.crossJoin(F.broadcast(medians))
    for c in IMPUTE_COLS:
        out = out.withColumn(_FLAG_NAMES[c], F.col(c) == 0).withColumn(
            c,
            F.when(F.col(c) == 0, F.col(f"__med_{c}")).otherwise(
                F.col(c).cast("double")
            ),
        )
    return out.drop(*[f"__med_{c}" for c in IMPUTE_COLS])


# -- categorical feature bucketing (reference: pipeline:185-224) -----------


def age_group(col: Column = None) -> Column:
    c = col if col is not None else F.col("Age")
    return (
        F.when(c < 30, "Young (< 30)")
        .when(c < 40, "Adult (30-39)")
        .when(c < 50, "Middle Age (40-49)")
        .when(c < 60, "Mature (50-59)")
        .otherwise("Senior (60+)")
    )


def bmi_category(col: Column = None) -> Column:
    c = col if col is not None else F.col("BMI")
    return (
        F.when(c < 18.5, "Underweight")
        .when(c < 25, "Normal")
        .when(c < 30, "Overweight")
        .otherwise("Obese")
    )


def glucose_level(col: Column = None) -> Column:
    c = col if col is not None else F.col("Glucose")
    return (
        F.when(c < 100, "Normal")
        .when(c < 126, "Prediabetic")
        .otherwise("Diabetic Range")
    )


def bp_category(col: Column = None) -> Column:
    c = col if col is not None else F.col("BloodPressure")
    return (
        F.when(c < 80, "Normal")
        .when(c < 90, "High Normal")
        .when(c < 100, "Mild Hypertension")
        .otherwise("Hypertension")
    )


def pregnancy_risk(col: Column = None) -> Column:
    c = col if col is not None else F.col("Pregnancies")
    return (
        F.when(c == 0, "No Pregnancies")
        .when(c <= 2, "Low Risk")
        .when(c <= 5, "Moderate Risk")
        .otherwise("High Risk")
    )


def risk_score() -> Column:
    """Weighted composite risk score (reference: pipeline:227-238)."""
    d = lambda name: F.col(name).cast("double")  # noqa: E731
    return (
        (d("Glucose") / 200.0) * 0.25
        + (d("BMI") / 50.0) * 0.20
        + (d("Age") / 100.0) * 0.15
        + (d("Pregnancies") / 20.0) * 0.10
        + (d("BloodPressure") / 200.0) * 0.10
        + (F.col("DiabetesPedigreeFunction") / 2.5) * 0.10
        + (d("Insulin") / 1000.0) * 0.05
        + (d("SkinThickness") / 100.0) * 0.05
    ).cast("double")


def risk_level(col: Column = None) -> Column:
    c = col if col is not None else F.col("risk_score")
    return F.when(c < 0.4, "Low").when(c < 0.6, "Medium").otherwise("High")


def data_quality_score() -> Column:
    """Percent of the five measures that were NOT imputed — 0..100 in
    steps of 20 (reference: pipeline:248-256; meaningful here because
    flags are computed flag-first, see module docstring)."""
    total = None
    for flag in _FLAG_NAMES.values():
        piece = F.when(F.col(flag), 0).otherwise(20)
        total = piece if total is None else total + piece
    return total.cast("int")


def engineer_features(df: DataFrame) -> DataFrame:
    """All silver feature columns (reference: pipeline:185-257)."""
    return df.withColumns(
        {
            "age_group": age_group(),
            "bmi_category": bmi_category(),
            "glucose_level": glucose_level(),
            "bp_category": bp_category(),
            "pregnancy_risk": pregnancy_risk(),
        }
    ).withColumn("risk_score", risk_score()).withColumns(
        {
            "risk_level": risk_level(),
            "data_quality_score": data_quality_score(),
        }
    )


CORR_PAIRS = (
    ("Glucose", "BMI", "glucose_bmi_corr"),
    ("Age", "Pregnancies", "age_pregnancies_corr"),
    ("BloodPressure", "BMI", "bp_bmi_corr"),
    ("Insulin", "Glucose", "insulin_glucose_corr"),
)


def feature_correlation(silver: DataFrame) -> DataFrame:
    """Pearson r of the ``CORR_PAIRS`` measures per (age group, BMI
    category), rounded to 6 digits (reference: pipeline:589-622).

    r comes from plain double sums, n*Sxy - Sx*Sy over
    sqrt(n*Sxx - Sx^2) * sqrt(n*Syy - Sy^2), which replaces Spark's
    order-sensitive Covariance merge (exact on the registry fixtures,
    whose measures are dyadic — plans/diabetesplans.py).  A cell where
    either column has zero variance (one row, or a constant column)
    gets NULL r instead of an ANSI divide-by-zero."""
    cols = sorted({c for x, y, _ in CORR_PAIRS for c in (x, y)})
    aggs = [
        F.count(F.lit(1)).alias("sample_size"),
        F.round(F.avg("Outcome"), 3).alias("diabetes_prevalence"),
    ]
    for c in cols:
        d = F.col(c).cast("double")
        aggs.append(F.sum(d).alias(f"_s_{c}"))
        aggs.append(F.sum(d * d).alias(f"_ss_{c}"))
    for x, y, name in CORR_PAIRS:
        aggs.append(
            F.sum(F.col(x).cast("double") * F.col(y).cast("double")).alias(
                f"_sp_{name}"
            )
        )
    g = silver.groupBy("age_group", "bmi_category").agg(*aggs)
    n = F.col("sample_size").cast("double")
    for x, y, name in CORR_PAIRS:
        num = n * F.col(f"_sp_{name}") - F.col(f"_s_{x}") * F.col(f"_s_{y}")
        vx = n * F.col(f"_ss_{x}") - F.col(f"_s_{x}") * F.col(f"_s_{x}")
        vy = n * F.col(f"_ss_{y}") - F.col(f"_s_{y}") * F.col(f"_s_{y}")
        g = g.withColumn(
            name,
            F.when((vx > 0) & (vy > 0), F.round(num / (F.sqrt(vx) * F.sqrt(vy)), 6)),
        )
    return g.withColumn(
        "correlation_strength",
        F.when(F.abs(F.col("glucose_bmi_corr")) > 0.7, "Strong")
        .when(F.abs(F.col("glucose_bmi_corr")) > 0.4, "Moderate")
        .otherwise("Weak"),
    ).drop(
        *[f"_s_{c}" for c in cols],
        *[f"_ss_{c}" for c in cols],
        *[f"_sp_{name}" for _, _, name in CORR_PAIRS],
    )
