"""Output checks, run outside the timed region.

Query results are compared with the query's DuckDB ``oracle`` twin by
``tests/pandas_compare.compare_frames``, the comparison the repository's
oracle tests and ``tools/audit_oracle.py`` make: column set, row count,
per-column dtype kind and the canonically rendered values, order
insensitive.  Medallion outputs are compared with the ground truth of
the seeded input generator.
"""

from __future__ import annotations

import os

from datagen import IMPUTED, GroundTruth
from tests.conftest import make_duck
from tests.pandas_compare import compare_frames


class Oracle:
    """DuckDB over a fixture directory; each query's oracle result is
    computed once and reused for every pass."""

    def __init__(self, data_dir: str):
        self.con = make_duck(data_dir)
        self._cache: dict = {}

    def problems(self, name: str, sql: str, got) -> list[str]:
        if name not in self._cache:
            self._cache[name] = self.con.execute(sql).fetchdf()
        return compare_frames(name, got, self._cache[name])


def medallion_problems(spark, warehouse: str, truth: GroundTruth) -> list[str]:
    """Gold and silver tables against the generator's ground truth."""
    problems = []
    ex = spark.read.parquet(os.path.join(warehouse, "diabetes_executive_summary")).first()
    if ex is None or int(ex["total_patients"]) != truth.rows:
        problems.append(f"executive_summary.total_patients != {truth.rows}")
    elif int(ex["diabetes_cases"]) != truth.outcome_sum:
        problems.append(f"executive_summary.diabetes_cases != {truth.outcome_sum}")
    silver = spark.read.parquet(os.path.join(warehouse, "diabetes_silver"))
    flags = {"Glucose": "glucose_imputed", "BloodPressure": "bp_imputed",
             "SkinThickness": "skin_imputed", "Insulin": "insulin_imputed",
             "BMI": "bmi_imputed"}
    got = silver.selectExpr(
        "count(*) AS rows",
        *[f"sum(cast({flags[c]} AS int)) AS {c}" for c in IMPUTED],
    ).first()
    if got["rows"] != truth.rows:
        problems.append(f"silver rows {got['rows']} != {truth.rows}")
    for c in IMPUTED:
        if (got[c] or 0) != truth.zeros[c]:
            problems.append(f"silver {flags[c]} count {got[c]} != {truth.zeros[c]}")
    return problems
