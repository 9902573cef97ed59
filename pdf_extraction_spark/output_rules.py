"""F2-extension: deterministic estimate-output validator.

Faithful transcription of the deterministic slice of the reference's
prompting-layer output validator (src/prompting/output_validator.py:
34-460) — schema/enum/range checks, consistency and hallucination
heuristics, quality scoring, and the manual-review gate. In the
reference these checks screen LLM responses; here they validate any
estimate record (e.g. the C18/hybrid chain output), so the same
screening runs with no LLM in the loop.

Pure per-record python, executed inside mapInPandas batches like the
other rule modules; the gate query transcribes every check in SQL.
"""

from __future__ import annotations

import json
import re

MIN_COST = 0.0
MAX_COST = 50000.0
MIN_CONFIDENCE = 0
MAX_CONFIDENCE = 100
MAX_COST_RATIO = 5.0
MANUAL_REVIEW_THRESHOLD = 60

REQUIRED_FIELDS = [
    "item", "issue_description", "severity", "suggested_action",
    "estimated_low", "estimated_high", "confidence_score", "reasoning",
]

VALID_SEVERITIES = ["Low", "Medium", "High", "Critical", "Informational"]

UNCERTAINTY_KEYWORDS = ["uncertain", "unclear", "unknown", "depends",
                        "may vary", "estimate"]

GENERIC_PHRASES = [
    "as mentioned earlier", "as discussed", "according to the document",
    "based on the inspection report", "the inspector noted",
]


def _check_required_fields(estimate: dict) -> list[str]:
    """output_validator.py:203-210."""
    return [f for f in REQUIRED_FIELDS
            if f not in estimate or estimate[f] is None or estimate[f] == ""]


def _validate_field_values(estimate: dict) -> list[str]:
    """output_validator.py:212-251."""
    errors = []
    if "severity" in estimate and estimate["severity"] not in VALID_SEVERITIES:
        errors.append(f"Invalid severity: {estimate['severity']}")
    if "confidence_score" in estimate:
        score = estimate["confidence_score"]
        if not isinstance(score, (int, float)):
            errors.append("confidence_score must be numeric")
        elif not MIN_CONFIDENCE <= score <= MAX_CONFIDENCE:
            errors.append(f"confidence_score {score} out of range")
    if "estimated_low" in estimate:
        low = estimate["estimated_low"]
        if not isinstance(low, (int, float)):
            errors.append("estimated_low must be numeric")
        elif low < MIN_COST:
            errors.append(f"estimated_low {low} below minimum")
    if "estimated_high" in estimate:
        high = estimate["estimated_high"]
        if not isinstance(high, (int, float)):
            errors.append("estimated_high must be numeric")
        elif high > MAX_COST:
            errors.append(f"estimated_high {high} exceeds maximum")
    if "reasoning" in estimate:
        reasoning = estimate["reasoning"]
        if not isinstance(reasoning, str):
            errors.append("reasoning must be a string")
        elif len(reasoning) < 50:
            errors.append("reasoning is too short")
    return errors


def _validate_cost_ranges(estimate: dict) -> tuple[list[str], list[str]]:
    """output_validator.py:253-287."""
    errors: list[str] = []
    warnings: list[str] = []
    if "estimated_low" not in estimate or "estimated_high" not in estimate:
        return errors, warnings
    low, high = estimate["estimated_low"], estimate["estimated_high"]
    if low >= high:
        errors.append(f"estimated_low ({low}) must be less than "
                      f"estimated_high ({high})")
    if high - low < 100 and low > 0:
        warnings.append("Cost range very narrow")
    if low > 0 and high / low > MAX_COST_RATIO:
        warnings.append("Cost range very wide")
    if low % 1000 == 0 and high % 1000 == 0:
        warnings.append("Both estimates are round thousands")
    return errors, warnings


def _check_consistency(estimate: dict) -> list[str]:
    """output_validator.py:289-327."""
    warnings = []
    severity = estimate.get("severity", "").lower()
    action = estimate.get("suggested_action", "").lower()
    confidence = estimate.get("confidence_score", 100)
    if severity == "critical" and "monitor" in action:
        warnings.append("Critical severity with 'monitor' action")
    if severity == "low" and estimate.get("estimated_high", 0) > 5000:
        warnings.append("Low severity with high cost estimate")
    if confidence > 85:
        low = estimate.get("estimated_low", 0)
        high = estimate.get("estimated_high", 0)
        if low > 0 and high / low > 3:
            warnings.append("High confidence with wide cost range")
    if "immediate" in action and severity in ["low", "informational"]:
        warnings.append("Immediate action with low severity")
    reasoning = estimate.get("reasoning", "").lower()
    if any(k in reasoning for k in UNCERTAINTY_KEYWORDS) and confidence > 80:
        warnings.append("Reasoning mentions uncertainty but confidence "
                        "is high")
    return warnings


def _detect_hallucinations(estimate: dict) -> list[str]:
    """output_validator.py:329-360."""
    warnings = []
    reasoning = estimate.get("reasoning", "")
    description = estimate.get("issue_description", "")
    low_r = reasoning.lower()
    for phrase in GENERIC_PHRASES:
        if phrase in low_r:
            warnings.append(f"Generic phrase '{phrase}' in reasoning")
    if "estimated_low" in estimate and "estimated_high" in estimate:
        low, high = estimate["estimated_low"], estimate["estimated_high"]
        if low % 10 != 0 and high % 10 != 0 and low != high:
            if low % 5 != 0 or high % 5 != 0:
                warnings.append("Unusual precision in estimates")
    if len(reasoning) > 500 and estimate.get("confidence_score", 0) < 70:
        warnings.append("Very detailed reasoning despite low confidence")
    if ("replace" in description.lower() and "repair" in low_r
            and "replace" not in low_r):
        warnings.append("Description mentions replace but reasoning "
                        "focuses on repair")
    return warnings


def _calculate_quality_score(estimate: dict, errors: list[str],
                             warnings: list[str]) -> int:
    """output_validator.py:363-394."""
    score = 100
    score -= len(errors) * 20
    score -= len(warnings) * 5
    if estimate.get("assumptions"):
        score += 5
    if estimate.get("risk_factors"):
        score += 5
    if len(estimate.get("reasoning", "")) > 200:
        score += 5
    if estimate.get("confidence_score", 100) < 50:
        score -= 10
    return max(0, min(100, score))


def _needs_manual_review(estimate: dict, errors: list[str],
                         warnings: list[str], quality_score: int) -> bool:
    """output_validator.py:396-432."""
    if errors:
        return True
    if quality_score < 60:
        return True
    if estimate.get("confidence_score", 100) < MANUAL_REVIEW_THRESHOLD:
        return True
    if estimate.get("estimated_high", 0) > MAX_COST:
        return True
    if len(warnings) >= 3:
        return True
    low = estimate.get("estimated_low", 0)
    high = estimate.get("estimated_high", 0)
    if low > 0 and high / low > 4:
        return True
    return False


def clean_estimate(estimate: dict) -> dict:
    """output_validator.py:434-477: numeric coercion, severity
    capitalization, whitespace strip, list coercion."""
    cleaned = dict(estimate)
    for field in ("estimated_low", "estimated_high"):
        if field in cleaned:
            try:
                cleaned[field] = float(cleaned[field])
            except (ValueError, TypeError):
                pass
    if "confidence_score" in cleaned:
        try:
            cleaned["confidence_score"] = int(float(cleaned["confidence_score"]))
        except (ValueError, TypeError):
            pass
    if "severity" in cleaned and isinstance(cleaned["severity"], str):
        cleaned["severity"] = cleaned["severity"].capitalize()
    for field in ("item", "issue_description", "suggested_action",
                  "reasoning"):
        if field in cleaned and isinstance(cleaned[field], str):
            cleaned[field] = cleaned[field].strip()
    for field in ("assumptions", "risk_factors"):
        if field in cleaned and not isinstance(cleaned[field], list):
            if isinstance(cleaned[field], str):
                try:
                    parsed = json.loads(cleaned[field])
                    if isinstance(parsed, list):
                        cleaned[field] = parsed
                        continue
                except json.JSONDecodeError:
                    pass
                cleaned[field] = [s.strip()
                                  for s in re.split(r"[;\n]", cleaned[field])
                                  if s.strip()]
    return cleaned


def validate_estimate(estimate: dict, strict: bool = True) -> dict:
    """output_validator.py:87-168: full validation pass over one estimate
    record. Returns the reference's result shape plus flat error/warning
    counts for columnar output."""
    errors: list[str] = []
    warnings: list[str] = []
    missing = _check_required_fields(estimate)
    if missing:
        errors.append(f"Missing required fields: {', '.join(missing)}")
    errors.extend(_validate_field_values(estimate))
    cost_errors, cost_warnings = _validate_cost_ranges(estimate)
    errors.extend(cost_errors)
    warnings.extend(cost_warnings)
    warnings.extend(_check_consistency(estimate))
    warnings.extend(_detect_hallucinations(estimate))
    quality_score = _calculate_quality_score(estimate, errors, warnings)
    needs_review = _needs_manual_review(estimate, errors, warnings,
                                        quality_score)
    is_valid = (len(errors) == 0 if strict
                else len(errors) == 0 or not needs_review)
    return {
        "valid": is_valid,
        "errors": errors,
        "warnings": warnings,
        "n_errors": len(errors),
        "n_warnings": len(warnings),
        "needs_review": needs_review,
        "quality_score": quality_score,
        "cleaned_estimate": clean_estimate(estimate),
    }
