"""Uniqueness / cardinality rule (R10/R19).

Reference: exactly-one-occurrence cardinality check raising
'Multiple pointOfContact fields' (scripts/errorChecker.py:379-380,400-401,
checkAddress :411-432) and the duplicate-field sweep
(testing-dublin-core.py:72-83).

Scale design: ONE map-side-combined hash aggregate. count() is algebraic, so
Spark's partial aggregation already does the "salting" for free — each map
partition collapses to ONE row per key BEFORE the exchange, so a hot key
holding a large share of a 10^12-row table ships O(#map partitions) partial
rows, never O(occurrences). The r01–r05 explicit salt phase
(groupBy(key, salt) → groupBy(key)) duplicated that guarantee at the cost of
a SECOND full exchange of (key, salt) rows — removed in r06 (optimization
guide §2.3/§2.4: partial aggregation IS the skew treatment for algebraic
aggregates; salting is for joins and non-combinable aggregates). AQE
(`spark.sql.adaptive.enabled`) still splits any residual skewed shuffle
partition at runtime. The dup-key set is then joined back (Catalyst/AQE
picks broadcast when the dup set is small — the common case) to emit one
violation row per offending record, matching the reference's per-record
exception granularity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from anzlic_validator_spark.rules import Rule

def duplicate_keys(df: DataFrame, cols: list[str]) -> DataFrame:
    """Keys occurring more than once, with their total count.

    Returns DataFrame[cols..., n: long] — only keys with n > 1. Hot keys
    need no salting: the partial (map-side) aggregation of count()
    collapses them to one row per map partition before the shuffle (see
    module doc).
    """
    return (
        df.select(*cols)
        .groupBy(*cols)
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") > 1)
    )


def unique_violations(df: DataFrame, rule: Rule, key_col: str) -> DataFrame:
    """Per-record violation rows for duplicated keys.

    Output schema: key, rule_id, observed, expected, rule_order.
    observed carries the duplicate count (the reference's message names the
    multiplicity class: 'Multiple <field> fields').
    """
    cols = [str(c) for c in rule.get("columns")]
    dupes = duplicate_keys(df, cols)
    joined = df.select(key_col, *[c for c in cols if c != key_col]).join(dupes, on=cols, how="inner")
    return joined.select(
        F.col(key_col).cast("string").alias("key"),
        F.lit(f"{rule.rule_id}.incorrect").alias("rule_id"),
        F.concat(F.lit("count="), F.col("n").cast("string")).alias("observed"),
        F.lit("unique (" + ",".join(cols) + ")").alias("expected"),
        F.lit(rule.order).cast("int").alias("rule_order"),
    )
