"""The diabetes medallion pipeline rebuilt on the engine layer —
behavioral parity with all 14 reference datasets (SURVEY.md §1.4;
reference: src/diabetes_etl_pipeline.py throughout, cited per table).

Differences from the literal reference, by design (SURVEY §4):
- flag-first imputation (features.py docstring) — so
  `data_quality_score`, `*_imputed_count` and `imputation_rate` are
  meaningful rather than constant;
- imputed measures are DOUBLE deterministically;
- medians computed in-plan (no driver collect round-trips);
- clock/run-id injectable via RunContext for reproducible outputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from diabetes_etl_spark.context import REAL, RunContext
from diabetes_etl_spark.diabetes import features as FE
from diabetes_etl_spark.diabetes.schema import DIABETES_SCHEMA
from diabetes_etl_spark.pipeline.registry import Pipeline
from diabetes_etl_spark.streaming.ingest import incremental_file_ingest


def _audit_columns(df: DataFrame, ctx: RunContext) -> DataFrame:
    """Ingest audit columns (reference: pipeline:70-73)."""
    return (
        df.withColumn("ingestion_timestamp", ctx.now())
        .withColumn("source_file", F.col("_metadata.file_path"))
        .withColumn("ingestion_date", ctx.today())
        .withColumn(
            "file_name",
            F.regexp_extract(F.col("_metadata.file_path"), r"([^/]+)\.csv$", 1),
        )
    )


def _props(tier: str) -> dict[str, str]:
    """Per-table properties, as the reference declares on every table
    (pipeline:49-53 and per-table): a medallion quality tier plus its
    auto-optimize marker, persisted to the catalog by the warehouse
    sink (SHOW TBLPROPERTIES)."""
    return {"quality": tier, "pipelines.autoOptimize.managed": "true"}


def build_diabetes_pipeline(
    source_dir: str,
    ctx: RunContext = REAL,
    streaming: bool = False,
) -> Pipeline:
    """source_dir: directory of CSV files with the DIABETES_SCHEMA columns."""
    p = Pipeline("diabetes_medallion")

    @p.table(
        name="diabetes_bronze",
        comment="Raw diabetes patient data ingested from CSV files",
        streaming=streaming,
        table_properties=_props("bronze"),
    )
    @Pipeline.expect_or_drop("valid_file", "file_name IS NOT NULL")
    def diabetes_bronze(c) -> DataFrame:
        # reference: pipeline:46-74. Streaming = incremental exactly-once
        # (Autoloader analogue); batch = same projection for tests.
        if streaming:
            raw = incremental_file_ingest(
                c.spark, source_dir, DIABETES_SCHEMA, fmt="csv",
                with_audit_columns=False,
            )
        else:
            raw = (
                c.spark.read.format("csv")
                .option("header", "true")
                .option("inferSchema", "false")
                .schema(DIABETES_SCHEMA)
                .load(source_dir)
            )
        return _audit_columns(raw, ctx)

    @p.table(
        name="diabetes_bronze_materialized",
        comment="Batch-queryable view of bronze for median calculations",
        table_properties=_props("bronze"),
    )
    def diabetes_bronze_materialized(c) -> DataFrame:
        # reference: pipeline:79-92
        return c.read("diabetes_bronze")

    @p.table(
        name="diabetes_silver",
        comment="Cleaned diabetes data with median imputation + features",
        table_properties=_props("silver"),
    )
    @Pipeline.expect_all(
        {
            "valid_age": "Age > 0 AND Age < 120",
            "valid_outcome": "Outcome IN (0, 1)",
            "valid_pregnancies": "Pregnancies >= 0",
        }
    )
    def diabetes_silver(c) -> DataFrame:
        # reference: pipeline:101-259 (quirk decisions documented above)
        bronze = c.read("diabetes_bronze_materialized")
        medians = FE.nonzero_medians(bronze)
        cleaned = FE.impute_and_flag(bronze, medians).withColumn(
            "transformation_timestamp", ctx.now()
        )
        return FE.engineer_features(cleaned)

    @p.table(
        name="diabetes_demographics_summary",
        comment="Demographics by age group, BMI category, pregnancy risk",
        table_properties=_props("gold"),
    )
    def diabetes_demographics_summary(c) -> DataFrame:
        # reference: pipeline:268-301
        s = c.read("diabetes_silver")
        return (
            s.groupBy("age_group", "bmi_category", "pregnancy_risk")
            .agg(
                F.count("*").alias("patient_count"),
                F.sum(F.col("Outcome").cast("int")).alias("diabetes_cases"),
                F.round(F.avg("Age"), 2).alias("avg_age"),
                F.round(F.avg("BMI"), 2).alias("avg_bmi"),
                F.round(F.avg("Glucose"), 2).alias("avg_glucose"),
                F.round(F.avg("BloodPressure"), 2).alias("avg_blood_pressure"),
                F.round(F.avg("risk_score"), 3).alias("avg_risk_score"),
                F.round(F.avg("data_quality_score"), 2).alias("avg_data_quality"),
                F.min("Age").alias("min_age"),
                F.max("Age").alias("max_age"),
            )
            .withColumn(
                "diabetes_rate",
                F.round(
                    F.col("diabetes_cases").cast("double")
                    / F.col("patient_count").cast("double")
                    * 100,
                    2,
                ),
            )
            .withColumn("created_at", ctx.now())
            .orderBy("age_group", "bmi_category", "pregnancy_risk")
        )

    @p.table(
        name="diabetes_risk_analysis",
        comment="Risk factor analysis by risk level / glucose / blood pressure",
        table_properties=_props("gold"),
    )
    def diabetes_risk_analysis(c) -> DataFrame:
        # reference: pipeline:303-342
        s = c.read("diabetes_silver")
        return (
            s.groupBy("risk_level", "glucose_level", "bp_category")
            .agg(
                F.count("*").alias("patient_count"),
                F.sum(F.col("Outcome").cast("int")).alias("diabetes_cases"),
                F.round(F.avg("risk_score"), 3).alias("avg_risk_score"),
                F.round(F.stddev("risk_score"), 3).alias("stddev_risk_score"),
                F.round(F.avg("DiabetesPedigreeFunction"), 3).alias(
                    "avg_pedigree_function"
                ),
                F.round(F.avg("Insulin"), 2).alias("avg_insulin"),
                F.round(F.avg("SkinThickness"), 2).alias("avg_skin_thickness"),
                F.countDistinct("age_group").alias("age_groups_represented"),
                F.round(F.avg("data_quality_score"), 2).alias("avg_data_quality"),
            )
            .withColumn(
                "diabetes_rate",
                F.round(
                    F.col("diabetes_cases").cast("double")
                    / F.col("patient_count").cast("double")
                    * 100,
                    2,
                ),
            )
            .withColumn(
                "risk_score_range",
                F.concat(
                    F.format_number(
                        F.col("avg_risk_score")
                        - F.coalesce(F.col("stddev_risk_score"), F.lit(0.0)),
                        3,
                    ),
                    F.lit(" - "),
                    F.format_number(
                        F.col("avg_risk_score")
                        + F.coalesce(F.col("stddev_risk_score"), F.lit(0.0)),
                        3,
                    ),
                ),
            )
            .withColumn("created_at", ctx.now())
            .orderBy("risk_level", "glucose_level", "bp_category")
        )

    @p.table(
        name="diabetes_executive_summary",
        comment="Executive KPIs, single wide row",
        table_properties=_props("gold"),
    )
    def diabetes_executive_summary(c) -> DataFrame:
        # reference: pipeline:344-389
        s = c.read("diabetes_silver")
        metrics = s.agg(
            F.count("*").alias("total_patients"),
            F.sum(F.when(F.col("Outcome") == 1, 1).otherwise(0)).alias(
                "diabetes_cases"
            ),
            F.sum(F.when(F.col("risk_level") == "High", 1).otherwise(0)).alias(
                "high_risk_patients"
            ),
            F.round(F.avg("Age"), 1).alias("avg_age"),
            F.round(F.avg("risk_score"), 3).alias("avg_risk_score"),
            F.round(F.avg("data_quality_score"), 1).alias("data_quality_score"),
        ).withColumns(
            {
                "diabetes_percentage": F.round(
                    F.col("diabetes_cases").cast("double")
                    / F.col("total_patients").cast("double")
                    * 100,
                    2,
                ),
                "high_risk_percentage": F.round(
                    F.col("high_risk_patients").cast("double")
                    / F.col("total_patients").cast("double")
                    * 100,
                    2,
                ),
            }
        )
        return metrics.select(
            F.lit("summary").alias("summary_type"),
            F.col("total_patients").cast("double").alias("total_patients"),
            F.col("diabetes_cases").cast("double").alias("diabetes_cases"),
            "diabetes_percentage",
            F.col("high_risk_patients").cast("double").alias("high_risk_patients"),
            "high_risk_percentage",
            "avg_age",
            "avg_risk_score",
            "data_quality_score",
            ctx.today().alias("summary_date"),
            ctx.now().alias("created_at"),
        )

    @p.table(
        name="diabetes_data_quality_metrics",
        comment="Per-file imputation and quality monitoring",
        table_properties=_props("gold"),
        # production shape (SURVEY §7.4): date-partitioned gold so
        # monitoring scans prune to the day under inspection
        partition_by=("processing_date",),
    )
    def diabetes_data_quality_metrics(c) -> DataFrame:
        # reference: pipeline:453-489
        s = c.read("diabetes_silver")
        return (
            s.withColumn("processing_date", ctx.today())
            .groupBy("processing_date", "source_file")
            .agg(
                F.count("*").alias("total_records"),
                F.sum(F.when(F.col("glucose_imputed"), 1).otherwise(0)).alias(
                    "glucose_imputed_count"
                ),
                F.sum(F.when(F.col("bp_imputed"), 1).otherwise(0)).alias(
                    "bp_imputed_count"
                ),
                F.sum(F.when(F.col("skin_imputed"), 1).otherwise(0)).alias(
                    "skin_imputed_count"
                ),
                F.sum(F.when(F.col("insulin_imputed"), 1).otherwise(0)).alias(
                    "insulin_imputed_count"
                ),
                F.sum(F.when(F.col("bmi_imputed"), 1).otherwise(0)).alias(
                    "bmi_imputed_count"
                ),
                F.round(F.avg("data_quality_score"), 2).alias(
                    "avg_data_quality_score"
                ),
                F.min("data_quality_score").alias("min_data_quality_score"),
                F.max("data_quality_score").alias("max_data_quality_score"),
            )
            .withColumn(
                "total_imputed_fields",
                (
                    F.col("glucose_imputed_count")
                    + F.col("bp_imputed_count")
                    + F.col("skin_imputed_count")
                    + F.col("insulin_imputed_count")
                    + F.col("bmi_imputed_count")
                ).cast("int"),
            )
            .withColumn(
                "imputation_rate",
                F.round(
                    F.col("total_imputed_fields").cast("double")
                    / (F.col("total_records").cast("double") * 5)
                    * 100,
                    2,
                ),
            )
            .withColumn("created_at", ctx.now())
        )

    @p.table(
        name="dashboard_refresh_log",
        comment="Pipeline-run audit row for dashboard refresh automation",
        table_properties=_props("gold"),
    )
    def dashboard_refresh_log(c) -> DataFrame:
        # reference: pipeline:498-534
        s = c.read("diabetes_silver")
        stats = s.agg(
            F.count("*").alias("total_records_processed"),
            F.countDistinct("source_file").alias("files_processed"),
            F.max("ingestion_timestamp").alias("latest_ingestion"),
            F.max("transformation_timestamp").alias("latest_transformation"),
            F.round(F.avg("data_quality_score"), 2).alias("overall_data_quality"),
        )
        return (
            stats.withColumn("pipeline_run_id", ctx.run_id())
            .withColumn("pipeline_completion_time", ctx.now())
            .withColumn("status", F.lit("COMPLETED"))
            .withColumn("next_dashboard_refresh_due", ctx.now())
            .withColumn(
                "refresh_priority",
                F.when(F.col("overall_data_quality") < 80, "HIGH")
                .when(F.col("total_records_processed") > 1000, "HIGH")
                .otherwise("NORMAL"),
            )
        )

    @p.table(
        name="pipeline_health_metrics",
        comment="Ingest throughput / health monitoring per hour and file",
        table_properties=_props("gold"),
    )
    def pipeline_health_metrics(c) -> DataFrame:
        # reference: pipeline:543-580
        b = c.read("diabetes_bronze")
        return (
            b.withColumn(
                "processing_hour",
                F.date_format(F.col("ingestion_timestamp"), "yyyy-MM-dd HH"),
            )
            .groupBy("processing_hour", "file_name")
            .agg(
                F.count("*").alias("records_processed"),
                F.countDistinct("source_file").alias("unique_files"),
                F.min("ingestion_timestamp").alias("first_record_time"),
                F.max("ingestion_timestamp").alias("last_record_time"),
            )
            .withColumn(
                "processing_duration_minutes",
                (
                    F.unix_timestamp("last_record_time")
                    - F.unix_timestamp("first_record_time")
                )
                / 60.0,
            )
            .withColumn(
                "records_per_minute",
                F.when(
                    F.col("processing_duration_minutes") > 0,
                    F.round(
                        F.col("records_processed").cast("double")
                        / F.col("processing_duration_minutes"),
                        2,
                    ),
                ).otherwise(F.col("records_processed").cast("double")),
            )
            .withColumn(
                "health_status",
                F.when(F.col("records_processed") == 0, "ERROR")
                .when(F.col("records_per_minute") < 10, "SLOW")
                .otherwise("HEALTHY"),
            )
            .withColumn("created_at", ctx.now())
        )

    @p.table(
        name="diabetes_feature_correlation",
        comment="Feature correlations per (age group, BMI category)",
        table_properties=_props("gold"),
    )
    def diabetes_feature_correlation(c) -> DataFrame:
        # reference: pipeline:589-622
        return FE.feature_correlation(c.read("diabetes_silver")).withColumn(
            "created_at", ctx.now()
        )

    @p.table(
        name="data_validation_summary",
        comment="Validity-rate report across the quality rules",
        table_properties=_props("gold"),
    )
    def data_validation_summary(c) -> DataFrame:
        # reference: pipeline:631-672
        s = c.read("diabetes_silver")
        v = s.agg(
            F.count("*").alias("total_records"),
            F.sum(
                F.when((F.col("Age") > 0) & (F.col("Age") < 120), 1).otherwise(0)
            ).alias("valid_age_count"),
            F.sum(F.when(F.col("Outcome").isin([0, 1]), 1).otherwise(0)).alias(
                "valid_outcome_count"
            ),
            F.sum(F.when(F.col("Pregnancies") >= 0, 1).otherwise(0)).alias(
                "valid_pregnancies_count"
            ),
            F.sum(F.when(F.col("Glucose") > 0, 1).otherwise(0)).alias(
                "valid_glucose_count"
            ),
            F.sum(F.when(F.col("BMI") > 0, 1).otherwise(0)).alias(
                "valid_bmi_count"
            ),
        )
        for rate, cnt in [
            ("age_validity_rate", "valid_age_count"),
            ("outcome_validity_rate", "valid_outcome_count"),
            ("pregnancies_validity_rate", "valid_pregnancies_count"),
            ("glucose_validity_rate", "valid_glucose_count"),
            ("bmi_validity_rate", "valid_bmi_count"),
        ]:
            v = v.withColumn(
                rate,
                F.round(
                    F.col(cnt).cast("double")
                    / F.col("total_records").cast("double")
                    * 100,
                    2,
                ),
            )
        return (
            v.withColumn(
                "overall_data_quality",
                F.round(
                    (
                        F.col("age_validity_rate")
                        + F.col("outcome_validity_rate")
                        + F.col("pregnancies_validity_rate")
                        + F.col("glucose_validity_rate")
                        + F.col("bmi_validity_rate")
                    )
                    / 5,
                    2,
                ),
            )
            .withColumn("validation_timestamp", ctx.now())
            .withColumn("validation_date", ctx.today())
        )

    # -- dashboard views (reference: pipeline:398-444) --------------------

    @p.view(name="v_demographics_dashboard")
    def v_demographics_dashboard(c) -> DataFrame:
        return c.read("diabetes_demographics_summary").select(
            "age_group", "bmi_category", "pregnancy_risk",
            "patient_count", "diabetes_rate", "avg_risk_score",
            "avg_age", "avg_bmi", "avg_glucose", "created_at",
        )

    @p.view(name="v_risk_analysis_dashboard")
    def v_risk_analysis_dashboard(c) -> DataFrame:
        return c.read("diabetes_risk_analysis").select(
            "risk_level", "glucose_level", "bp_category",
            "patient_count", "diabetes_rate", "avg_risk_score",
            "avg_pedigree_function", "avg_insulin", "created_at",
        )

    @p.view(name="v_executive_summary_dashboard")
    def v_executive_summary_dashboard(c) -> DataFrame:
        return c.read("diabetes_executive_summary").select(
            "total_patients", "diabetes_cases", "diabetes_percentage",
            "high_risk_patients", "high_risk_percentage", "avg_age",
            "avg_risk_score", "data_quality_score", "summary_date", "created_at",
        )

    return p
