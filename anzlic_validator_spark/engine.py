"""Engine orchestration: DataFrame + rule catalog → violations + verdicts.

Lifecycle mirrors the reference's check() sequence (linz_metadata.py:1956-2101
and scripts/validate.py:419-458 process loop): rule-catalog pass → schema/
decode pass → conditional pass → verdict per record, except everything is ONE
declarative Spark plan:

    row rules    -> a single projection: array(rule_structs) → filter nulls
                    → explode  (whole-stage codegen, zero shuffle)
    dataset rules-> uniqueness (salted 2-phase agg), referential (joins),
                    all_of (grouped collect_set), drift (grid aggregate),
                    audio_decode (Arrow pandas UDF projection)
    violations   = UNION ALL of the above
    verdicts     = keys LEFT JOIN min-rule-order violation   (the reference is
                   fail-fast with a fixed dispatch order, errorChecker.py:
                   573-654 — we evaluate everything and rank afterwards)

Violations never fail the job (the reference catches per-record exceptions
and keeps sweeping, scripts/validate.py:451-458).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from anzlic_validator_spark.compile import compile_row_rules
from anzlic_validator_spark.errors import InvalidConfigException
from anzlic_validator_spark.rules import Rule, RuleCatalog
from anzlic_validator_spark.schema import VIOLATION_FIELDS

_INTERNAL_FIELDS = [*VIOLATION_FIELDS, "rule_order"]
_INTERNAL_SCHEMA = "key string, rule_id string, observed string, expected string, rule_order int"

# violation keys starting with this prefix are table-/group-level synthetic
# keys ("__table__", "__group__|..."), never record keys: excluded from
# per-record verdicts and per-bucket summaries, routed to the reserved
# bucket by the batch runner.
RESERVED_KEY_PREFIX = "__"


def is_record_key(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    # NULL keys are record keys: startswith(NULL) yields NULL, which where()
    # would silently drop — a record with a NULL key column must still have
    # its violations surfaced, not vanish from the output
    return c.isNull() | ~c.startswith(RESERVED_KEY_PREFIX)


def _empty_violations(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame([], _INTERNAL_SCHEMA)


def _fuse_in_scan(rule: Rule) -> bool:
    """Rules that fold into the single-scan row pass (they augment the row
    stream rather than re-scanning it). Referential rules fuse ONLY when the
    authority is broadcast: fusing a sort-merge join would shuffle the full
    row — including the binary payload — on the join key. Non-broadcast
    referential rules instead run on a pruned (key, column) projection
    (operators/referential.referential_violations) and union their rows in,
    keeping ``bytes`` shuffle-free at any authority size.
    """
    if rule.type == "audio_decode":
        return True
    if rule.type in ("referential", "referential_mapped"):
        return bool(rule.get("broadcast", False))
    return False


def single_scan_violations(
    df: DataFrame, catalog: RuleCatalog, key_col: str, refs: dict[str, DataFrame]
) -> DataFrame:
    """ALL per-row rule families in ONE scan of the table.

    Row rules compile to struct expressions; referential rules LEFT-join
    their authority onto the stream; the audio rule attaches its Arrow
    decode-check struct. Everything lands in one array → filter → explode
    projection, so the table — including the heavy ``bytes`` column — is
    read exactly once per job no matter how many rules the catalog holds.
    """
    from anzlic_validator_spark.functions.audio import augment_audio
    from anzlic_validator_spark.operators.referential import (
        augment_referential,
        augment_referential_mapped,
    )

    structs = compile_row_rules(catalog.row_rules)
    aug = df
    for rule in catalog.dataset_rules:
        if not _fuse_in_scan(rule):
            continue
        if rule.type == "referential":
            aug, s = augment_referential(aug, rule, key_col, refs)
            structs.append(s)
        elif rule.type == "referential_mapped":
            aug, s = augment_referential_mapped(aug, rule, key_col, refs)
            structs.append(s)
        elif rule.type == "audio_decode":
            aug, ss = augment_audio(aug, rule, key_col)
            structs.extend(ss)
    if not structs:
        return _empty_violations(df.sparkSession)
    arr = F.filter(F.array(*structs), lambda v: v.isNotNull())
    return (
        aug.select(F.col(key_col).cast("string").alias("key"), F.explode(arr).alias("__v"))
        .select("key", "__v.rule_id", "__v.observed", "__v.expected", "__v.rule_order")
    )


def dataset_rule_violations(
    df: DataFrame,
    rule: Rule,
    key_col: str,
    refs: dict[str, DataFrame],
) -> DataFrame:
    """Rules that genuinely need their own aggregate pass (their scans are
    pruned to the rule's columns — never the binary payload)."""
    from anzlic_validator_spark.operators.drift import drift_violations
    from anzlic_validator_spark.operators.referential import referential_violations
    from anzlic_validator_spark.operators.setcover import all_of_violations
    from anzlic_validator_spark.operators.uniqueness import unique_violations

    if rule.type == "unique":
        return unique_violations(df, rule, key_col)
    if rule.type == "all_of":
        return all_of_violations(df, rule, key_col)
    if rule.type == "drift":
        return drift_violations(df, rule, key_col)
    if rule.type in ("referential", "referential_mapped"):
        return referential_violations(df, rule, key_col, refs)
    raise InvalidConfigException(f"unknown dataset rule type: {rule.type}")


@dataclass
class ValidationResult:
    """Lazy handles over the validation plan — nothing here triggers a job."""

    df: DataFrame
    key_col: str
    catalog: RuleCatalog
    violations_ranked: DataFrame = field(repr=False)  # + rule_order

    @property
    def violations(self) -> DataFrame:
        """Public violation rows (key, rule_id, observed, expected)."""
        return self.violations_ranked.select(*VIOLATION_FIELDS)

    @property
    def verdicts(self) -> DataFrame:
        """Per-record verdict: passed + first violation in catalog order.

        Reserved-key violations ('__table__', '__group__|...') are excluded
        from per-record verdicts but present in .violations.

        Shape (r06, guide §2.4): records (as NULL markers) and violation
        rows UNION into ONE groupBy on the key — min() skips the NULL
        markers and count(col) counts only violation rows, so a single
        map-side-combined exchange replaces the former
        distinct + groupBy + null-safe-join (3 exchanges + a join). NULL
        keys are one group, matching the old eqNullSafe pairing.

        Planner note: min over a struct (or string) marker only plans as a
        SortAggregate — non-primitive aggregation buffers are not
        hash-aggregatable — but the single sorted aggregate still beat the
        old three-exchange shape in A/B (3.89 → 2.64 s warm on
        lineitem_verdicts); a fully hash-aggregatable encoding would need
        the rule_id tie-break collapsed into a primitive, which no faithful
        encoding provides.
        """
        marker_t = "struct<rule_order:int,rule_id:string>"
        records = self.df.select(
            F.col(self.key_col).cast("string").alias("key"),
            F.lit(None).cast(marker_t).alias("__v"),
        )
        viol = self.violations_ranked.where(is_record_key("key")).select(
            "key", F.struct("rule_order", "rule_id").alias("__v")
        )
        return (
            records.unionByName(viol)
            .groupBy("key")
            .agg(
                F.min("__v").alias("__first"),
                F.count("__v").alias("n_violations"),
            )
            .select(
                "key",
                F.col("__first").isNull().alias("passed"),
                F.col("__first.rule_id").alias("first_rule_id"),
                "n_violations",
            )
        )


def validate(
    df: DataFrame,
    catalog: RuleCatalog,
    key_col: str,
    refs: dict[str, DataFrame] | None = None,
) -> ValidationResult:
    """Build the full validation plan for ``df`` under ``catalog``."""
    refs = refs or {}
    missing = [c for r in catalog.row_rules for c in _rule_columns(r) if c not in df.columns]
    if missing:
        raise InvalidConfigException(f"catalog references unknown columns: {sorted(set(missing))}")
    from anzlic_validator_spark.operators.referential import (
        referential_violations_grouped,
        rule_join_key,
    )

    parts = [single_scan_violations(df, catalog, key_col, refs)]
    # non-broadcast referential rules sharing (authority, join key, ref key)
    # are evaluated through ONE pruned scan + ONE authority join (r06, guide
    # §2.4) instead of one join per rule
    ref_groups: dict[tuple, list[Rule]] = {}
    for rule in catalog.dataset_rules:
        if _fuse_in_scan(rule):
            continue  # already folded into the single-scan pass
        if rule.type in ("referential", "referential_mapped"):
            gk = (
                str(rule.get("ref_table")),
                rule_join_key(rule, key_col),
                str(rule.get("ref_key")),
            )
            ref_groups.setdefault(gk, []).append(rule)
            continue
        parts.append(dataset_rule_violations(df, rule, key_col, refs))
    for group in ref_groups.values():
        parts.append(referential_violations_grouped(df, group, key_col, refs))
    violations = parts[0]
    for p in parts[1:]:
        violations = violations.unionByName(p)
    return ValidationResult(
        df=df, key_col=key_col, catalog=catalog, violations_ranked=violations
    )


def _rule_columns(rule: Rule) -> list[str]:
    cols = []
    if rule.get("column"):
        cols.append(str(rule.get("column")))
    if isinstance(rule.get("columns"), (list, tuple)):
        cols.extend(str(c) for c in rule.get("columns"))
    if rule.type == "any_of":
        for sub in rule.get("rules") or []:
            cols.extend(_rule_columns(Rule("", str(sub.get("type")), rule.order, dict(sub))))
    if rule.type == "conditional":
        when = rule.get("when") or {}
        if when.get("column"):
            cols.append(str(when["column"]))
        then = dict(rule.get("then") or {})
        cols.extend(_rule_columns(Rule("", str(then.get("type")), rule.order, then)))
    return cols
