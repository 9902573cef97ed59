"""J8 calibration feedback loop (src/learning/feedback_loop.py semantics)."""

import pytest

from pdf_extraction_spark import calibration_rules as cal


def _store(n: int, variance_pct: float, category: str = "roofing",
           complexity: str = "medium",
           strategy: str = "rule_based") -> cal.CalibrationStore:
    store = cal.CalibrationStore()
    for _ in range(n):
        # estimated mid 1000; actual = mid * (1 + variance/100)
        store.add(cal.CalibrationRecord(
            category, complexity, strategy, 800, 1200,
            actual_cost=1000 * (1 + variance_pct / 100)))
    return store


def test_factor_and_gating():
    # consistent +15% underestimates -> factor 1.15, applied
    store = _store(10, 15.0)
    f = cal.calibration_factor(store, "roofing", "medium", "rule_based")
    assert f is not None
    assert abs(f["factor"] - 1.15) < 1e-9
    assert f["sample_count"] == 10
    assert cal.should_apply(f)

    # under the sample minimum -> no factor
    assert cal.calibration_factor(
        _store(3, 15.0), "roofing", "medium", "rule_based") is None

    # negligible adjustment (+1%) -> gated off
    f2 = cal.calibration_factor(
        _store(10, 1.0), "roofing", "medium", "rule_based")
    assert f2 is not None and not cal.should_apply(f2)

    # extreme adjustment (+60%) capped at 1.5 but gated (>1.35)
    f3 = cal.calibration_factor(
        _store(10, 60.0), "roofing", "medium", "rule_based")
    assert f3["factor"] == 1.5 and not cal.should_apply(f3)


def test_apply_calibration_df(spark):
    store = _store(20, 15.0, category="roofing")
    for _ in range(20):
        store.add(cal.CalibrationRecord("plumbing", "medium", "rule_based",
                                        800, 1200, actual_cost=1000))
    df = spark.createDataFrame(
        [("roofing", 100.0, 200.0), ("plumbing", 100.0, 200.0),
         ("hvac", 100.0, 200.0)],
        "category string, estimated_low double, estimated_high double")
    out = {r["category"]: r.asDict()
           for r in cal.apply_calibration_df(df, store).collect()}
    assert out["roofing"]["calibration_factor"] == pytest.approx(1.15)
    assert out["roofing"]["calibrated_low"] == pytest.approx(115.0)
    # plumbing variance 0 -> factor 1.0 gated off -> unchanged
    assert out["plumbing"]["calibration_factor"] == 1.0
    assert out["hvac"]["calibrated_high"] == 200.0


def test_durable_store_roundtrip(spark, tmp_path):
    """Calibration history persists across runs: save -> append -> load
    rebuilds the union, and factors reflect the accumulated history."""
    path = str(tmp_path / "calibration")
    run1 = _store(6, 20.0)
    assert run1.save(spark, path) == 6
    run2 = _store(6, 10.0)
    assert run2.save(spark, path) == 6

    loaded = cal.CalibrationStore.load(spark, path)
    assert len(loaded.records) == 12
    f = cal.calibration_factor(loaded, "roofing", "medium", "rule_based")
    assert f is not None and f["sample_count"] == 12
    assert abs(f["factor"] - 1.15) < 1e-9  # mean of 20% and 10%
    assert cal.should_apply(f)

    # empty store is a no-op write
    assert cal.CalibrationStore().save(spark, path) == 0
