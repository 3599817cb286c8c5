"""Dataset-level validation operators (shuffle/join/UDF-backed rules)."""

from anzlic_validator_spark.operators.uniqueness import unique_violations
from anzlic_validator_spark.operators.setcover import all_of_violations
from anzlic_validator_spark.operators.drift import drift_violations

__all__ = [
    "unique_violations",
    "all_of_violations",
    "drift_violations",
]
