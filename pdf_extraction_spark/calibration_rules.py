"""J8 — calibration feedback loop: historical estimate-vs-actual variance
-> calibration factors -> adjusted estimates.

Faithful transcription of src/learning/feedback_loop.py:198-293 and
calibration_database.py:242-290 semantics. The Spark shape: the
calibration store is a tiny table of (category, complexity, strategy,
variance_pct) records built from historical actuals; the adjustment is a
broadcast lookup applied per estimate (`apply_calibration_df` joins it
onto an estimates DataFrame as a broadcast map — the same join family as
J2/J6).
"""

from __future__ import annotations

import statistics
from dataclasses import dataclass

MIN_SAMPLES = 5
CONFIDENCE_THRESHOLD = 0.6


@dataclass
class CalibrationRecord:
    category: str
    complexity: str
    strategy: str
    estimated_low: float
    estimated_high: float
    actual_cost: float | None = None

    @property
    def variance_pct(self) -> float | None:
        """(actual - estimated_mid) / estimated_mid * 100
        (calibration_database.py:46)."""
        if self.actual_cost is None:
            return None
        mid = (self.estimated_low + self.estimated_high) / 2
        if mid <= 0:
            return None
        return (self.actual_cost - mid) / mid * 100


class CalibrationStore:
    """Twin of CalibrationDatabase (calibration_database.py:20-120,
    SQLite in the reference). In-memory for per-run use; `save`/`load`
    persist the history as a parquet table so calibration accumulates
    across runs — the durable feedback loop (at scale: an Iceberg table
    appended per run and broadcast at read time)."""

    _FIELDS = ("category", "complexity", "strategy", "estimated_low",
               "estimated_high", "actual_cost")

    def __init__(self) -> None:
        self.records: list[CalibrationRecord] = []

    def add(self, record: CalibrationRecord) -> None:
        self.records.append(record)

    def save(self, spark, path: str) -> int:
        """Append the in-memory records (one row each) to the history.
        Returns the number of rows written."""
        if not self.records:
            return 0
        rows = [
            (r.category, r.complexity, r.strategy,
             float(r.estimated_low), float(r.estimated_high),
             None if r.actual_cost is None else float(r.actual_cost))
            for r in self.records]
        df = spark.createDataFrame(
            rows, "category string, complexity string, strategy string, "
                  "estimated_low double, estimated_high double, "
                  "actual_cost double")
        df.write.mode("append").parquet(path)
        return len(rows)

    @classmethod
    def load(cls, spark, path: str) -> "CalibrationStore":
        """Rebuild a store from the persisted history (all runs)."""
        spark.catalog.refreshByPath(path)
        store = cls()
        for r in spark.read.parquet(path).collect():
            store.add(CalibrationRecord(
                category=r["category"], complexity=r["complexity"],
                strategy=r["strategy"],
                estimated_low=r["estimated_low"],
                estimated_high=r["estimated_high"],
                actual_cost=r["actual_cost"]))
        return store

    def variance_stats(self, category: str | None = None) -> dict:
        """calibration_database.py:242-290, filtered by category only."""
        filtered = [
            r for r in self.records
            if r.actual_cost is not None
            and (category is None or r.category.lower() == category.lower())
        ]
        variances = [r.variance_pct for r in filtered
                     if r.variance_pct is not None]
        if not filtered:
            return {"count": 0, "avg_variance_pct": 0,
                    "std_dev_variance_pct": 0}
        return {
            "count": len(filtered),
            "avg_variance_pct": statistics.mean(variances) if variances else 0,
            "std_dev_variance_pct": statistics.stdev(variances)
            if len(variances) > 1 else 0,
        }


def _confidence(sample_count: int, std_dev: float) -> float:
    """feedback_loop.py:252-277: geometric mean of sample-size and
    consistency components."""
    sample_conf = min(1.0, sample_count / 20)
    consistency = max(0.5, 1.0 - (std_dev / 100)) if std_dev > 0 else 1.0
    return (sample_conf * consistency) ** 0.5


def calibration_factor(store: CalibrationStore,
                       category: str | None = None) -> dict | None:
    """feedback_loop.py:198-250 on the category rung: factor = 1 +
    avg_variance/100, capped to [0.7, 1.5], with sample/consistency
    confidence; None under ``MIN_SAMPLES`` records."""
    stats = store.variance_stats(category)
    if stats["count"] < MIN_SAMPLES:
        return None
    factor = 1.0 + (stats["avg_variance_pct"] / 100)
    factor = max(0.7, min(1.5, factor))
    return {
        "category": category or "any",
        "factor": factor,
        "sample_count": stats["count"],
        "confidence": _confidence(stats["count"],
                                  stats["std_dev_variance_pct"]),
        "avg_variance_pct": stats["avg_variance_pct"],
    }


def should_apply(calibration: dict) -> bool:
    """feedback_loop.py:279-293: gate on confidence, extreme factors, and
    negligible adjustments."""
    if calibration["confidence"] < CONFIDENCE_THRESHOLD:
        return False
    if calibration["factor"] < 0.75 or calibration["factor"] > 1.35:
        return False
    if 0.98 <= calibration["factor"] <= 1.02:
        return False
    return True


def apply_calibration_df(estimates, store: CalibrationStore):
    """Spark form of J8: per-category factors as a broadcast map applied
    to an estimates DataFrame (the category-only rung of the ladder —
    the narrowest rung available without per-row complexity/strategy)."""
    from pyspark.sql import functions as F

    categories = {r.category for r in store.records}
    factors = {}
    for cat in categories:
        calibration = calibration_factor(store, category=cat)
        if calibration and should_apply(calibration):
            factors[cat] = calibration["factor"]
    if not factors:
        return (estimates
                .withColumn("calibrated_low",
                            F.col("estimated_low").cast("double"))
                .withColumn("calibrated_high",
                            F.col("estimated_high").cast("double"))
                .withColumn("calibration_factor", F.lit(1.0)))
    mapping = F.create_map(
        *[F.lit(x) for pair in factors.items() for x in pair])
    factor = F.coalesce(mapping[F.col("category")], F.lit(1.0))
    return (estimates
            .withColumn("calibration_factor", factor)
            .withColumn("calibrated_low",
                        F.round(F.col("estimated_low") * factor, 2))
            .withColumn("calibrated_high",
                        F.round(F.col("estimated_high") * factor, 2)))
