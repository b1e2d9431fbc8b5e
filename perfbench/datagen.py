"""Seeded input generator for the medallion workload.

``MedallionFeed`` lands reference-shaped diabetes CSVs (9 columns, 128
rows per file) with the marginals of FIXTURES.md §A, one file at a time,
and keeps the ground truth the gold tables are checked against.  The
query workloads need no generator: they read the fixture tables copied
under ``perfbench/data``.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np

ROWS_PER_FILE = 128
IMPUTED = ("Glucose", "BloodPressure", "SkinThickness", "Insulin", "BMI")
# share of zeros (= missing) per imputed column in the reference's 768 rows
_ZERO_RATE = {
    "Glucose": 5 / 768, "BloodPressure": 35 / 768, "SkinThickness": 227 / 768,
    "Insulin": 374 / 768, "BMI": 11 / 768,
}
# bucket-edge values of the pipeline's CASE ladders, seeded into every file
_EDGES = {
    "Age": (29, 30, 39, 40, 49, 50, 59, 60),
    "BMI": (18.4, 18.5, 24.9, 25.0, 29.9, 30.0),
    "Glucose": (99, 100, 125, 126),
    "BloodPressure": (79, 80, 89, 90, 99, 100),
    "Pregnancies": (0, 1, 2, 3, 5, 6),
}
COLUMNS = (
    "Pregnancies", "Glucose", "BloodPressure", "SkinThickness", "Insulin",
    "BMI", "DiabetesPedigreeFunction", "Age", "Outcome",
)


@dataclass
class GroundTruth:
    rows: int = 0
    outcome_sum: int = 0
    zeros: dict[str, int] = field(default_factory=lambda: dict.fromkeys(IMPUTED, 0))
    csv_bytes: int = 0


def _diabetes_rows(rng, n: int) -> dict[str, np.ndarray]:
    c = {
        "Pregnancies": np.minimum(rng.geometric(0.25, n) - 1, 17),
        "Glucose": np.clip(rng.normal(121, 31, n), 44, 199).round().astype(int),
        "BloodPressure": np.clip(rng.normal(72, 12, n), 24, 122).round().astype(int),
        "SkinThickness": np.clip(rng.normal(29, 10, n), 7, 99).round().astype(int),
        "Insulin": np.clip(rng.lognormal(4.9, 0.6, n), 14, 846).round().astype(int),
        "BMI": np.clip(rng.normal(32.4, 6.9, n), 18.2, 67.1).round(1),
        "DiabetesPedigreeFunction": np.clip(rng.lognormal(-0.8, 0.6, n), 0.078, 2.42).round(3),
        "Age": np.clip(21 + rng.exponential(12, n), 21, 81).astype(int),
    }
    for col, rate in _ZERO_RATE.items():
        c[col] = np.where(rng.random(n) < rate, 0, c[col])
    for col, edges in _EDGES.items():
        idx = rng.choice(n, len(edges), replace=False)
        c[col][idx] = edges
    risk = (c["Glucose"] - 120) / 30 + (c["BMI"] - 32) / 7 + (c["Age"] - 33) / 12
    c["Outcome"] = (rng.random(n) < 1 / (1 + np.exp(-(risk - 0.6)))).astype(int)
    return c


class MedallionFeed:
    """Lands seeded diabetes CSVs into ``landing_dir``, one file per call.

    The first file holds one all-zeros row (every imputed measure zero).
    ``truth`` accumulates the ground truth over everything landed.
    """

    def __init__(self, landing_dir: str, seed: int):
        self.landing_dir = landing_dir
        self.rng = np.random.default_rng(seed)
        self.truth = GroundTruth()
        self.files = 0
        os.makedirs(landing_dir, exist_ok=True)

    def land(self) -> str:
        c = _diabetes_rows(self.rng, ROWS_PER_FILE)
        if self.files == 0:
            for col in IMPUTED + ("Pregnancies",):
                c[col][0] = 0
        self.files += 1
        lines = [",".join(COLUMNS)]
        for i in range(ROWS_PER_FILE):
            lines.append(",".join(str(c[col][i]) for col in COLUMNS))
        body = "\n".join(lines) + "\n"
        path = os.path.join(self.landing_dir, f"diabetes_part_{self.files}.csv")
        tmp = os.path.join(os.path.dirname(self.landing_dir), f".landing_{self.files}.tmp")
        with open(tmp, "w") as f:
            f.write(body)
        os.replace(tmp, path)  # a file appears whole, as an upload would
        t = self.truth
        t.rows += ROWS_PER_FILE
        t.outcome_sum += int(c["Outcome"].sum())
        for col in IMPUTED:
            t.zeros[col] += int((c[col] == 0).sum())
        t.csv_bytes += len(body.encode())
        return path
